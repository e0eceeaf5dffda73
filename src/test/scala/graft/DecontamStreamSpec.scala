package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipelines

/** Streaming URL decontamination: canonicalized (query-stripped) crawl URLs
  * check membership against the plan-literal eval manifest; tracking
  * parameters must not let a manifest page slip through. */
class DecontamStreamSpec extends AnyFunSuite with LocalSpark {

  test("manifest pages block even behind tracking query strings") {
    val dir = Files.createTempDirectory("decontam").toFile
    def rec(id: Int, url: String): String = s"""{"id": $id, "url": "$url"}"""
    Files.write(new java.io.File(dir, "crawl.jsonl").toPath,
      (Seq(
        rec(1, "http://a.example/p0?utm_source=feed"), // manifest + tracking
        rec(2, "http://a.example/p0"), // manifest, bare
        rec(3, "http://a.example/p1"), // clean page, same host
        rec(4, "http://b.example/p0?ref=x"), // clean (manifest is per-URL)
        rec(5, "http://c.example/eval?q=1") // manifest with its own path
      ).mkString("\n") + "\n").getBytes)

    val q = Pipelines.decontamStream(spark, dir.getAbsolutePath,
      Seq("http://a.example/p0", "http://c.example/eval"))
      .writeStream.format("memory").queryName("decontam_rows")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("decontam_rows")
      .selectExpr("id", "cu", "blocked")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2))))
      .toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(rows(1L) == (("http://a.example/p0", true))) // stripped then hit
    assert(rows(2L) == (("http://a.example/p0", true)))
    assert(rows(3L) == (("http://a.example/p1", false)))
    assert(rows(4L) == (("http://b.example/p0", false)))
    assert(rows(5L) == (("http://c.example/eval", true)))
  }
}
