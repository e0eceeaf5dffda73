package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Bzip2
import graft.streaming.Pipelines

/** Random-access page fetch over the multistream index: the MINIMAL-
  * ACCESS property is proven physically — dump files holding no
  * requested page are DELETED before the fetch runs, and the fetch
  * must still serve every hit (it may only touch hit files). Plus the
  * two lie/damage arms: a torn stream under a requested page, and an
  * index that promises a page its stream does not hold — both come
  * back as routed ok = false rows, never exceptions, never wrong
  * text. */
class WikidumpFetchSpec extends AnyFunSuite with LocalSpark {

  private def page(id: Long, t: String, b: String): String =
    s"<page><title>$t</title><ns>0</ns><id>$id</id>" +
      s"<revision><id>1</id><text bytes=\"0\">$b</text></revision></page>"

  /** One dump: header stream, one stream per page group, footer.
    * Returns (bytes, index lines). */
  private def dump(groups: Seq[Seq[(Long, String, String)]],
      tear: Set[Int] = Set.empty): (Array[Byte], Seq[String]) = {
    val header = Bzip2.encode("<mediawiki><siteinfo/>".getBytes)
    val streams = groups.zipWithIndex.map { case (g, i) =>
      val raw = Bzip2.encode(
        g.map { case (id, t, b) => page(id, t, b) }.mkString.getBytes)
      if (tear.contains(i)) raw.dropRight(6) else raw
    }
    val footer = Bzip2.encode("</mediawiki>".getBytes)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    var off = header.length.toLong
    groups.zip(streams).foreach { case (g, s) =>
      g.foreach { case (id, t, _) => lines += s"$off:$id:$t" }
      off += s.length
    }
    (header ++ streams.reduce(_ ++ _) ++ footer, lines.toSeq)
  }

  test("fetch serves hits with untouched dumps absent; lies and tears route") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fetch").toFile
    // d1: requested pages live in stream 2 (intact) and stream 3 (torn)
    val (b1, l1) = dump(Seq(
      Seq((101L, "Alpha", "alpha body"), (102L, "Beta:colon title", "beta body")),
      Seq((103L, "Gamma", "gamma body"))), tear = Set(1))
    Files.write(new java.io.File(dir, "d1.xml.bz2").toPath, b1)
    // d2: never requested — DELETED below; its index rows remain
    val (b2, l2) = dump(Seq(Seq((201L, "Delta", "delta body"))))
    val f2 = new java.io.File(dir, "d2.xml.bz2")
    Files.write(f2.toPath, b2)
    // d3: the index LIES — it promises page 999 at stream 2's offset,
    // but that stream only holds page 301
    val (b3, l3raw) = dump(Seq(Seq((301L, "Real", "real body"))))
    Files.write(new java.io.File(dir, "d3.xml.bz2").toPath, b3)
    val l3 = l3raw.map(_.replace(":301:Real", ":999:Promised"))

    def idxDf(path: String, lines: Seq[String]) =
      Seq((new java.io.File(dir, path).getAbsolutePath,
        Bzip2.encode((lines.mkString("\n") + "\n").getBytes)))
        .toDF("path", "content")
    val idx = Pipelines.wikidumpIndexLines(
        idxDf("d1.xml.bz2", l1)
          .unionByName(idxDf("d2.xml.bz2", l2))
          .unionByName(idxDf("d3.xml.bz2", l3)))

    assert(f2.delete(), "fixture setup: could not delete d2")

    val wanted = Seq(101L, 102L, 103L, 999L).toDF("page_id")
    val got = Pipelines.wikidumpFetch(idx, wanted)
      .select("page_id", "title", "text", "ok").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("-"),
        Option(r.getString(2)).getOrElse("-"), r.getBoolean(3)))
      .toSet
    assert(got == Set(
      (101L, "Alpha", "alpha body", true),
      // the limit-3 index split must keep colons in titles; the page
      // itself serves from the dump, not the index line
      (102L, "Beta:colon title", "beta body", true),
      (103L, "-", "-", false), // torn stream under a requested page
      (999L, "-", "-", false)  // index lie: promised, not delivered
    ), s"got $got")
  }

  test("a multistream index file (the sink's chunk-flushed form) parses whole") {
    import spark.implicits._
    // the sink flushes index text as its own bzip2 stream every ~1 MiB:
    // the reader must decode the CONCATENATION as one line set
    val content = Bzip2.encode("10:1:Alpha\n20:2:Beta\n".getBytes("UTF-8")) ++
      Bzip2.encode("30:3:Gamma has:colon\n".getBytes("UTF-8"))
    val got = Pipelines.wikidumpIndexLines(
        Seq(("d.xml.bz2", content)).toDF("path", "content"))
      .select("off", "page_id", "title").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((10L, 1L, "Alpha"), (20L, 2L, "Beta"),
      (30L, 3L, "Gamma has:colon")), s"got $got")
  }

  test("sink escapes, fetch decodes: hostile titles and bodies round-trip " +
      "byte-exactly; newline titles keep index lines whole") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sink_hostile").toFile.getAbsolutePath
    val hostile = Seq(
      (1L, "A & B <T> \"q\"",
        "body with & and <page></page> and a literal </text> terminator" +
          "\nsecond line"),
      (2L, "Line\nbroken:title", "plain body"),
      // text that ALREADY looks like entities must come back verbatim —
      // double-decoding would turn &lt; into <
      (3L, "&amp; pre-escaped title",
        "text holding &lt; entities that must NOT double-decode"))
    Pipelines.wikidumpSink(
      hostile.toDF("page_id", "title", "text").repartition(1),
      dir, pagesPerStream = 2)
    val idx = Pipelines.wikidumpIndexLines(
        spark.read.format("binaryFile")
          .option("pathGlobFilter", "*-index.txt.bz2").load(dir)
          .select(col("path"), col("content")))
      .withColumn("path",
        regexp_replace(col("path"), "-index\\.txt\\.bz2$", ".xml.bz2"))
    // index lines carry the PLAIN title (the index is text, not XML),
    // newlines flattened so each page stays exactly one line
    val titles = idx.select(col("page_id"), col("title"))
      .as[(Long, String)].collect().toMap
    assert(titles.size == 3, s"index must hold one line per page: $titles")
    assert(titles(1L) == "A & B <T> \"q\"")
    assert(titles(2L) == "Line broken:title")
    assert(titles(3L) == "&amp; pre-escaped title")
    val got = Pipelines.wikidumpFetch(idx, Seq(1L, 2L, 3L).toDF("page_id"))
      .select("page_id", "title", "text", "ok").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getBoolean(3))).toSet
    assert(got == Set(
      (1L, "A & B <T> \"q\"", hostile(0)._3, true),
      (2L, "Line broken:title", "plain body", true),
      (3L, "&amp; pre-escaped title",
        "text holding &lt; entities that must NOT double-decode", true)),
      s"got $got")
  }
}
