package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Bzip2
import graft.streaming.Pipelines

/** Wikipedia-dump ingest under the streaming file source: `.xml.bz2`
  * dumps dropped into a watched directory explode to per-page rows
  * through the SAME `wikidumpPages` projection as a batch read — the
  * spec's assertions are stream ≡ batch on mixed drops, a CONFORMING
  * multistream dump decoding per-extent (header/footer streams surface
  * as page-0 marker rows, pages number within their stream), and the
  * quarantine posture: a torn stream is ONE dead-letter row per
  * EXTENT, a page fragment spanning a stream boundary (nonconforming
  * input — the published multistream format aligns pages to streams)
  * quarantines BOTH touched extents, and partial pages never flow. */
class WikidumpStreamSpec extends AnyFunSuite with LocalSpark {

  private def page(t: String, b: String): String =
    s"<page><title>$t</title><ns>0</ns><revision>" +
      s"<text bytes=\"0\">$b</text></revision></page>"

  private def dump(pages: Seq[(String, String)]): Array[Byte] = {
    val xml = "<mediawiki><siteinfo><sitename>t</sitename></siteinfo>" +
      pages.map { case (t, b) => page(t, b) }.mkString + "</mediawiki>"
    Bzip2.encode(xml.getBytes("UTF-8"))
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("path", "stream", "page", "title", "text", "ok").collect()
      .map(r => Seq(
        r.getString(0).split('/').last, r.getInt(1).toString,
        r.getInt(2).toString,
        Option(r.getString(3)).getOrElse("-"),
        Option(r.getString(4)).getOrElse("-"),
        r.getBoolean(5).toString).mkString("|"))
      .toSet

  test("stream pages == batch; multistream splits per extent; torn quarantines") {
    val dir = Files.createTempDirectory("wikidump").toFile
    Files.write(new java.io.File(dir, "a.xml.bz2").toPath,
      dump(Seq(("Alpha", "body one\nline two"), ("Beta", "body two"))))
    // a CONFORMING multistream dump (the published pages-articles
    // multistream shape): header stream with siteinfo only, one
    // page-aligned content stream, footer stream with the close tag —
    // each extent decodes independently, header/footer become page-0
    // marker rows
    Files.write(new java.io.File(dir, "b.xml.bz2").toPath,
      Bzip2.encode("<mediawiki><siteinfo><sitename>t</sitename></siteinfo>"
        .getBytes) ++
        Bzip2.encode((page("Gamma", "split body") +
          page("Delta", "more body")).getBytes) ++
        Bzip2.encode("</mediawiki>".getBytes))
    // a NONCONFORMING concatenation: one page torn mid-element across
    // two streams — both touched extents must quarantine whole (a
    // partial page must never surface as text)
    val full = "<mediawiki>" + page("Omega", "never emitted") + "</mediawiki>"
    val (h1, h2) = full.splitAt(full.indexOf("never"))
    Files.write(new java.io.File(dir, "d.xml.bz2").toPath,
      Bzip2.encode(h1.getBytes) ++ Bzip2.encode(h2.getBytes))
    // torn single stream → one extent-level quarantine row
    Files.write(new java.io.File(dir, "c.xml.bz2").toPath,
      dump(Seq(("Torn", "gone"))).dropRight(6))
    // decodes fine but holds no <page> at all → the file must still be
    // visible as one page-0 marker row (route, don't drop)
    Files.write(new java.io.File(dir, "e.xml.bz2").toPath, dump(Seq()))
    // not bzip2 at all → stream = -1 quarantine
    Files.write(new java.io.File(dir, "f.xml.bz2").toPath,
      "plainly not bz2".getBytes)

    val q = Pipelines.wikidumpStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("wikidump")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = rowSet(spark.table("wikidump"))

    val batch = rowSet(Pipelines.wikidumpPages(spark.read
      .format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(dir.getAbsolutePath)))
    assert(streamed == batch, "stream and batch projections drifted")

    // single-stream file: per-stream numbering IS global numbering
    assert(streamed.contains("a.xml.bz2|1|1|Alpha|body one\nline two|true"))
    assert(streamed.contains("a.xml.bz2|1|2|Beta|body two|true"))
    // conforming multistream: header/footer marker rows + per-stream pages
    assert(streamed.contains("b.xml.bz2|1|0|-|-|true"))
    assert(streamed.contains("b.xml.bz2|2|1|Gamma|split body|true"))
    assert(streamed.contains("b.xml.bz2|2|2|Delta|more body|true"))
    assert(streamed.contains("b.xml.bz2|3|0|-|-|true"))
    // nonconforming mid-page tear: both extents quarantine, the torn
    // page text never surfaces anywhere
    assert(streamed.contains("d.xml.bz2|1|-1|-|-|false"))
    assert(streamed.contains("d.xml.bz2|2|-1|-|-|false"))
    assert(!streamed.exists(s => s.contains("never emitted")))
    assert(streamed.count(_.startsWith("c.xml.bz2|")) == 1)
    assert(streamed.contains("c.xml.bz2|1|-1|-|-|false"))
    assert(streamed.count(_.startsWith("e.xml.bz2|")) == 1)
    assert(streamed.contains("e.xml.bz2|1|0|-|-|true"))
    assert(streamed.contains("f.xml.bz2|-1|-1|-|-|false"))
  }

  test("wikidumpArticlesStream filters ns/redirects through the shared projection") {
    val dir = Files.createTempDirectory("wikidump_articles").toFile
    val xml = "<mediawiki><siteinfo/>" +
      "<page><title>Keep</title><ns>0</ns><id>1</id><revision>" +
      "<text bytes=\"0\">kept '''body'''</text></revision></page>" +
      "<page><title>Talk:Keep</title><ns>1</ns><id>2</id><revision>" +
      "<text bytes=\"0\">chatter</text></revision></page>" +
      "<page><title>Alias</title><ns>0</ns>" +
      "<redirect title=\"Keep\" /><id>3</id><revision>" +
      "<text bytes=\"0\">#REDIRECT [[Keep]]</text></revision></page>" +
      "</mediawiki>"
    Files.write(new java.io.File(dir, "n.xml.bz2").toPath,
      Bzip2.encode(xml.getBytes("UTF-8")))
    val q = Pipelines.wikidumpArticlesStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("wikidump_articles")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("wikidump_articles")
      .select("title", "plain").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("Keep", "kept body")))
  }

  test("wikidumpPlainStream strips markup through the shared projection") {
    val dir = Files.createTempDirectory("wikidump_plain").toFile
    Files.write(new java.io.File(dir, "m.xml.bz2").toPath,
      dump(Seq(("Marked", "'''Bold''' [[x|link]] {{tmpl}} done"))))
    val q = Pipelines.wikidumpPlainStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("wikidump_plain")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("wikidump_plain")
      .select("title", "plain").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("Marked", "Bold link  done")))
  }
}
