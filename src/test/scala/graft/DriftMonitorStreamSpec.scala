package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipelines

/** Streaming drift monitor: per-bucket doc counts vs a baseline histogram
  * embedded as a plan literal — volume ratios in ppm, buckets outside
  * [0.5x, 2x] flagged, unseen buckets flagged against base 0. */
class DriftMonitorStreamSpec extends AnyFunSuite with LocalSpark {

  test("bucket volumes compare against the literal baseline") {
    val dir = Files.createTempDirectory("drift_mon").toFile
    def doc(id: Int, words: Int): String =
      s"""{"id": $id, "text": "${Seq.fill(words)("w").mkString(" ")}"}"""
    // bucket = words div 10 (capped at 9): four docs in bucket 1,
    // one in bucket 3, one in bucket 9 (95 words -> div 10 = 9)
    Files.write(new java.io.File(dir, "a.jsonl").toPath,
      (Seq(doc(1, 12), doc(2, 15), doc(3, 18), doc(4, 11), doc(5, 33),
        doc(6, 95)).mkString("\n") + "\n").getBytes)

    // baseline: bucket 1 had 4 docs (stable), bucket 3 had 10 (collapsed
    // to 1 -> flagged low), bucket 9 absent (new -> flagged against 0)
    val q = Pipelines.driftMonitorStream(spark, dir.getAbsolutePath,
      Map(1L -> 4L, 3L -> 10L))
      .writeStream.format("memory").queryName("drift_rows")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("drift_rows")
      .selectExpr("bucket", "cnt", "base_cnt", "ratio_ppm", "flagged")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(rows.keySet == Set(1L, 3L, 9L))
    assert(rows(1L) == ((4L, 4L, 1000000L, false))) // stable
    assert(rows(3L) == ((1L, 10L, 100000L, true))) // collapsed
    assert(rows(9L) == ((1L, 0L, 1000000L, true))) // unseen bucket flags
  }
}
