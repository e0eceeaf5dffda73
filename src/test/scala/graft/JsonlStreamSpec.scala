package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipelines

/** Streaming JSONL ingest under the file source: lines parse through the
  * SAME jsonlParse projection as the x170 batch gate — corrupt lines
  * arrive flagged (never fatal), absent fields surface as null. */
class JsonlStreamSpec extends AnyFunSuite with LocalSpark {

  test("watched .jsonl files stream out parsed, corrupt lines flagged") {
    val dir = Files.createTempDirectory("jsonl_stream").toFile
    Files.write(new java.io.File(dir, "a.jsonl").toPath,
      ("""{"id": 1, "lang": "en", "score": 0.5}""" + "\n" +
        """{"id": 2, "lang": "de"}""" + "\n" +
        """{"id": 3, "lang"""" + "\n").getBytes)

    val q = Pipelines.jsonlTextStream(spark, dir.getAbsolutePath,
      "id BIGINT, lang STRING, score DOUBLE")
      .writeStream.format("memory").queryName("jsonl_rows")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("jsonl_rows")
      .selectExpr("line_no", "ok", "j.id", "j.lang", "j.score")
      .collect().map(r => r.getInt(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getString(3), if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
      .toMap
    assert(rows.size == 3)
    assert(rows(0) == ((true, 1L, "en", 0.5)))
    // absent field -> null score, still ok
    val (ok1, id1, lang1, s1) = rows(1)
    assert(ok1 && id1 == 2L && lang1 == "de" && s1.isNaN)
    // malformed line -> flagged, fields null, stream alive
    val (ok2, id2, _, _) = rows(2)
    assert(!ok2 && id2 == -1L)
  }
}
