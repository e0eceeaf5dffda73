package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.VectorIndex

/** Incremental IVF maintenance: embeddings arriving over micro-batches
  * build inverted-list segments, search over the streamed index equals
  * search over a one-shot build, new arrivals become searchable after
  * resume, and a replayed batch does not duplicate vectors. */
class VectorIndexStreamSpec extends AnyFunSuite with LocalSpark {

  private val dim = 8

  private def vec(seed: Int): Array[Float] =
    Array.tabulate(dim)(i => (((seed * 31 + i * 7) % 200) - 100) / 100.0f)

  private val cids = Array(100L, 200L)
  private val cvs = Array(
    Array.fill(dim)(0.5f), Array.fill(dim)(-0.5f))

  private def toDf(rows: Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("streamed index == one-shot build; resume; replay idempotence") {
    val base = Files.createTempDirectory("vec_index").toFile
    val src = new java.io.File(base, "vectors").getAbsolutePath
    val indexDir = new java.io.File(base, "index").getAbsolutePath
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath

    val wave1 = (1L to 30L).map(id => (id, vec(id.toInt)))
    val wave2 = (31L to 40L).map(id => (id, vec(id.toInt)))

    toDf(wave1).repartition(3).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def run(): Unit = {
      val vectors = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      VectorIndex.maintain(vectors, indexDir, ckpt, cids, cvs)
        .awaitTermination(120000)
    }
    run()

    // no model was ever published, so the index serves the pre-model
    // era root gen=0
    assert(spark.read.parquet(s"$indexDir/gen=0")
      .select("batch_id").distinct().count() >= 2, "expected >=2 segments")

    val query = vec(3)
    val probes = VectorIndex.probeList(query, cids, cvs, 1)
    def results(index: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      VectorIndex.search(index, query, probes, 5).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val oneShot1 = VectorIndex.segment(toDf(wave1), cids, cvs)
    assert(results(VectorIndex.read(spark, indexDir)) == results(oneShot1),
      "streamed search != one-shot search on wave 1")

    // resume: new vectors land and become searchable
    toDf(wave2).coalesce(1).write.mode("append").parquet(src)
    run()
    val oneShotAll = VectorIndex.segment(toDf(wave1 ++ wave2), cids, cvs)
    assert(results(VectorIndex.read(spark, indexDir)) == results(oneShotAll),
      "resumed search != one-shot search on the union")

    // replay: re-landing the last batch id must replace, not duplicate
    val lastBatch = spark.read.parquet(s"$indexDir/gen=0")
      .agg(max(col("batch_id").cast("long"))).first().getLong(0)
    VectorIndex.appendBatch(indexDir, cids, cvs)(toDf(wave2), lastBatch)
    val n = VectorIndex.read(spark, indexDir).count()
    assert(n == (wave1.length + wave2.length).toLong,
      s"replay duplicated vectors: $n rows")

    // segments are cid-partitioned: the probe filter prunes directories
    val cidDirs = new java.io.File(indexDir, "gen=0").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).map(_.getName).distinct
    assert(cidDirs.forall(_.startsWith("cid=")), cidDirs.mkString(","))

    // compaction folds batch partitions to one, keeps cid pruning and the
    // search result identical
    val preCompact = results(VectorIndex.read(spark, indexDir))
    val (pBefore, pAfter) = VectorIndex.compact(spark, indexDir)
    assert(pBefore > 1 && pAfter == 1, s"compact $pBefore -> $pAfter")
    val compactedCids = new java.io.File(s"$indexDir/gen=0/batch_id=-1").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(compactedCids.nonEmpty && compactedCids.forall(_.startsWith("cid=")))
    assert(results(VectorIndex.read(spark, indexDir)) == preCompact,
      "compaction changed search results")
    assert(VectorIndex.read(spark, indexDir).count() ==
      (wave1.length + wave2.length).toLong)
  }
}
