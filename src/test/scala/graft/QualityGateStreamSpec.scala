package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipelines

/** Streaming Gopher quality gate: watched .jsonl docs run the SAME
  * gopherAdmit battery as the x183 batch gate — admitted docs carry their
  * integer features, rejected docs stay visible with the failing rule,
  * corrupt lines arrive flagged (never fatal). */
class QualityGateStreamSpec extends AnyFunSuite with LocalSpark {

  test("watched docs gate through the shared Gopher battery") {
    val dir = Files.createTempDirectory("quality_gate").toFile
    // 40 words, mean length in band, 'the'+'and' stopwords, no repetition
    val good = (("the quick brown engine scans parquet and " +
      "emits rows with steady cadence ") * 4).trim
    // word-count floor fails (8 words)
    val short = "the quick brown fox and the lazy dog"
    // repetition cap fails: one token dominates
    val reps = ("spam " * 35).trim + " the quick brown fox and lazy dog here"
    Files.write(new java.io.File(dir, "docs.jsonl").toPath,
      (s"""{"id": 1, "text": "$good"}""" + "\n" +
        s"""{"id": 2, "text": "$short"}""" + "\n" +
        """{"id": 3, "text"""" + "\n" +
        s"""{"id": 4, "text": "$reps"}""" + "\n").getBytes)

    val q = Pipelines.qualityGateStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("quality_rows")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("quality_rows")
      .selectExpr("line_no", "ok", "admit", "n_words", "n_stop")
      .collect().map(r => r.getInt(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(rows.size == 4)
    val (ok0, admit0, n0, stop0) = rows(0)
    assert(ok0 && admit0 && n0 == 48L && stop0 >= 2)
    val (ok1, admit1, n1, _) = rows(1)
    assert(ok1 && !admit1 && n1 == 8L) // word-count floor
    val (ok2, admit2, _, _) = rows(2)
    assert(!ok2 && !admit2) // corrupt line: flagged, gate closed, stream alive
    val (ok3, admit3, _, _) = rows(3)
    assert(ok3 && !admit3) // repetition cap

    // the stream's verdict IS the batch gate's verdict on the same text
    val batch = Pipelines.gopherAdmit(
      spark.createDataFrame(Seq((1L, good), (2L, short), (4L, reps)))
        .toDF("id", "text"))
      .selectExpr("id", "admit").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(batch(1L) && !batch(2L) && !batch(4L))
  }
}
