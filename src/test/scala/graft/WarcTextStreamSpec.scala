package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Warc
import graft.streaming.Pipelines

/** Crawl-archive text ingest under the streaming file source: `.warc`
  * and member-gzipped `.warc.gz` files dropped into a watched directory
  * come out as main-text rows through the SAME `htmlMainText`
  * projection the batch gates (x160/x164) run. */
class WarcTextStreamSpec extends AnyFunSuite with LocalSpark {

  test("watched directory of WARC archives yields stripped main text") {
    val dir = Files.createTempDirectory("warc_text").toFile
    def page(title: String, body: String): Array[Byte] =
      (s"<html><head><title>$title</title><style>x{}</style></head>" +
        s"<body><script>no()</script><p>$body</p>" +
        """<a href="/l">go</a></body></html>""").getBytes
    Files.write(new java.io.File(dir, "a.warc").toPath, Warc.build(Seq(
      ("warcinfo", null, "2024-01-01T00:00:00Z", "soft".getBytes),
      ("response", "http://a.example/1", "2024-01-01T00:00:00Z",
        page("One", "first   body")),
      ("request", "http://a.example/1", "2024-01-01T00:00:00Z",
        "GET /1".getBytes))))
    Files.write(new java.io.File(dir, "b.warc.gz").toPath, Warc.buildGz(Seq(
      ("response", "http://b.example/2", "2024-01-02T00:00:00Z",
        page("Two", "second &amp; body")))))

    val q = Pipelines.warcTextStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("warc_text")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("warc_text")
      .select("uri", "title", "text", "link_count").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getInt(3)))
      .toMap
    // only responses surface; warcinfo/request records are filtered
    assert(rows.keySet == Set("http://a.example/1", "http://b.example/2"))
    assert(rows("http://a.example/1") == (("One", "One first body go", 1)))
    assert(rows("http://b.example/2") == (("Two", "Two second & body go", 1)))
  }

  test("watched WET archives yield language-identified extracted text") {
    val dir = Files.createTempDirectory("wet_text").toFile
    Files.write(new java.io.File(dir, "a.wet").toPath, Warc.build(Seq(
      ("warcinfo", null, "2024-01-01T00:00:00Z", "soft".getBytes),
      ("conversion", "http://a.example/en", "2024-01-01T00:00:00Z",
        "the quick fox and the dog run".getBytes),
      ("conversion", "http://a.example/de", "2024-01-01T00:00:00Z",
        "der fuchs und der hund laufen zu hause".getBytes))))
    Files.write(new java.io.File(dir, "b.wet.gz").toPath, Warc.buildGz(Seq(
      ("conversion", "http://b.example/fr", "2024-01-02T00:00:00Z",
        "le renard et le chien vont a la maison".getBytes))))

    val q = Pipelines.wetTextStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("wet_text")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("wet_text")
      .select("uri", "lang", "n_words").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    // warcinfo filtered; languages identified by the shared markers
    assert(rows == Map(
      "http://a.example/en" -> (("en", 7L)),
      "http://a.example/de" -> (("de", 8L)),
      "http://b.example/fr" -> (("fr", 9L))))
  }
}
