package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Archives, Pdfs}
import graft.streaming.Pipelines

/** Archive ingest under the streaming file source: `.zip` / `.tar`
  * bundles dropped into a watched directory explode to per-member text
  * rows (txt verbatim, PDF through pdf_text, DOCX through the OOXML run
  * chain) via the SAME `archiveText` projection as a batch read — the
  * spec's core assertion is stream ≡ batch on mixed drops, including
  * the quarantine arms: an unreadable container (truncated ZIP, corrupt
  * PAX record) is ONE dead-letter row, a CRC-failed member a `corrupt`
  * row, never an exception into the standing query. */
class ArchiveTextStreamSpec extends AnyFunSuite with LocalSpark {

  private def docx(text: String): Array[Byte] = {
    val xml = "<?xml version=\"1.0\"?><w:document xmlns:w=\"http://schemas" +
      ".openxmlformats.org/wordprocessingml/2006/main\"><w:body>" +
      s"<w:p><w:r><w:t>$text</w:t></w:r></w:p></w:body></w:document>"
    Archives.buildZip(Seq(
      ("[Content_Types].xml", "<Types/>".getBytes, true),
      ("word/document.xml", xml.getBytes, true)))
  }

  private def xlsx(): Array[Byte] = {
    val sst = "<sst><si><t>alpha cell</t></si><si><t>beta cell</t></si></sst>"
    val sheet = "<worksheet><sheetData>" +
      """<row r="1"><c r="A1" t="s"><v>1</v></c><c r="B1"><v>42</v></c>""" +
      """<c r="C1" t="inlineStr"><is><t>inline one</t></is></c></row>""" +
      """<row r="2"><c r="A2" t="s"><v>0</v></c></row>""" +
      "</sheetData></worksheet>"
    // a second sheet: multi-sheet workbooks must not silently drop it
    val sheet2 = "<worksheet><sheetData>" +
      """<row r="1"><c r="A1"><v>99</v></c></row>""" +
      "</sheetData></worksheet>"
    Archives.buildZip(Seq(
      ("[Content_Types].xml", "<Types/>".getBytes, true),
      ("xl/sharedStrings.xml", sst.getBytes, true),
      // stored out of order: extraction must sort sheets numerically
      ("xl/worksheets/sheet2.xml", sheet2.getBytes, true),
      ("xl/worksheets/sheet1.xml", sheet.getBytes, true)))
  }

  private def pptx(): Array[Byte] = {
    def slide(s: Int) =
      "<p:sld><p:cSld><p:spTree><p:sp><p:txBody>" +
        s"<a:p><a:r><a:t>slide $s </a:t></a:r><a:r><a:t>title</a:t></a:r></a:p>" +
        s"<a:p><a:r><a:t>body $s</a:t></a:r></a:p>" +
        "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
    Archives.buildZip(Seq(
      ("[Content_Types].xml", "<Types/>".getBytes, true),
      ("ppt/slides/slide1.xml", slide(1).getBytes, true),
      ("ppt/slides/slide2.xml", slide(2).getBytes, true)))
  }

  private def writeDrops(dir: java.io.File): Unit = {
    // a.zip: txt + pdf + docx + other + one CRC-corrupted member
    val goodZip = Archives.buildZip(Seq(
      ("notes/readme.txt", "plain text member".getBytes, false),
      ("docs/report.pdf",
        Pdfs.buildPdfWithText(Seq("pdf page one", "pdf page two"),
          flate = true), false),
      ("docs/memo.docx", docx("docx body text"), false),
      ("blob/image.bin", Array.tabulate[Byte](64)(_.toByte), false),
      ("bad/corrupt.txt", "this payload will be garbled".getBytes, true)))
    // garble the LAST member's compressed bytes (the central directory at
    // the tail stays intact, so accounting survives and crc_ok = false)
    val s = new String(goodZip, java.nio.charset.StandardCharsets.ISO_8859_1)
    val at = s.indexOf("bad/corrupt.txt") + "bad/corrupt.txt".length + 3
    goodZip(at) = (goodZip(at) ^ 0x7f).toByte
    Files.write(new java.io.File(dir, "a.zip").toPath, goodZip)
    // b.tar: txt + pdf + the other two OOXML members + the round-11 trio
    Files.write(new java.io.File(dir, "b.tar").toPath, Archives.buildTar(Seq(
      ("t.txt", "0", "tar text member".getBytes),
      ("p.pdf", "0", Pdfs.buildPdfWithText(Seq("tar pdf page"),
        flate = false)),
      ("sheet.xlsx", "0", xlsx()),
      ("deck.pptx", "0", pptx()),
      ("doc.odt", "0", graft.functions.Odts.buildOdt(
        Seq("odt c1\tc2  wide", "odt & fin"))),
      ("sheet.ods", "0", graft.functions.Odts.buildOds(
        Seq(Seq("ods a", "ods  b"), Seq("ods c")))),
      ("deck.odp", "0", graft.functions.Odts.buildOdp(
        Seq(Seq("odp t1", "odp b1"), Seq("odp t2")))),
      ("book.epub", "0", graft.functions.Epubs.buildEpub(
        Seq(("ch1.xhtml", "epub one"), ("ch2.xhtml", "epub two")))),
      ("note.rtf", "0", graft.functions.Rtfs.buildRtf(
        "rtf {body} — end")),
      ("mail.eml", "0", graft.functions.Emls.buildEml(
        "subj", "a@b.c", "Mon, 1 Jan 2024 00:00:00 +0000",
        "eml plain body", encoding = "quoted-printable",
        htmlAlt = true)),
      // one level of nesting: a zip INSIDE the tar re-explodes with
      // bang-prefixed member names; a torn inner zip keeps ONE
      // corrupt row under the outer name
      ("inner.zip", "0", Archives.buildZip(Seq(
        ("n/one.txt", "nested text one".getBytes, true),
        ("n/two.rtf", graft.functions.Rtfs.buildRtf("nested rtf"), false)))),
      ("torn.zip", "0", Archives.buildZip(Seq(
        ("x.txt", "x".getBytes, false))).dropRight(9)),
      // a NESTED .tgz must take the tar arm, not the single-file gzip
      // unwrap (".tgz" does not end with ".gz", so the gz arm cannot
      // hijack it — pinned here so the dispatch can never regress)
      // a nested single-file .zst member unwraps in place like .gz/.bz2
      ("note2.txt.zst", "0", graft.functions.Zstandard.encode(
        "zstd member text".getBytes)),
      // and a nested single-file .xz member
      ("note3.txt.xz", "0", graft.functions.Xz.encode(
        "xz member text".getBytes)),
      ("inner2.tgz", "0", {
        val t = Archives.buildTar(Seq(
          ("deep.txt", "0", "nested tgz member".getBytes)))
        val b2 = new java.io.ByteArrayOutputStream()
        val g2 = new java.util.zip.GZIPOutputStream(b2)
        g2.write(t); g2.close()
        b2.toByteArray
      }))))
    // e.tgz: the gzip-wrapped tar form — same members must surface
    val eTar = Archives.buildTar(Seq(
      ("gz.txt", "0", "gzipped tar member".getBytes)))
    val bos = new java.io.ByteArrayOutputStream()
    val gzo = new java.util.zip.GZIPOutputStream(bos)
    gzo.write(eTar); gzo.close()
    Files.write(new java.io.File(dir, "e.tgz").toPath, bos.toByteArray)
    // g.tar.zst: the zstd-wrapped tar form — same members must surface
    Files.write(new java.io.File(dir, "g.tar.zst").toPath,
      graft.functions.Zstandard.encode(Archives.buildTar(Seq(
        ("zs.txt", "0", "zstd tar member".getBytes)))))
    // h.tar.xz: the xz-wrapped tar form
    Files.write(new java.io.File(dir, "h.tar.xz").toPath,
      graft.functions.Xz.encode(Archives.buildTar(Seq(
        ("xzm.txt", "0", "xz tar member".getBytes)))))
    // i.7z: the 7z container rides the same member chain as zip
    Files.write(new java.io.File(dir, "i.7z").toPath,
      graft.functions.SevenZip.build(Seq(
        ("seven/one.txt", "7z member one".getBytes),
        ("seven/two.rtf", graft.functions.Rtfs.buildRtf("7z rtf")),
        ("seven/three.txt", "7z member three".getBytes)),
        encodedHeader = true))
    // c.zip: truncated container → one unreadable quarantine row
    Files.write(new java.io.File(dir, "c.zip").toPath,
      Archives.buildZip(Seq(("x.txt", "x".getBytes, false))).dropRight(9))
    // d.tar: corrupt PAX record → whole-archive null → quarantine row
    Files.write(new java.io.File(dir, "d.tar").toPath, Archives.buildTar(Seq(
      ("pax", "x", "1 x".getBytes), ("stub", "0", "d".getBytes))))
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("path", "member", "kind", "text", "n_chars", "ok")
      .collect()
      .map(r => Seq(
        r.getString(0).split('/').last, Option(r.getString(1)).getOrElse("-"),
        r.getString(2), Option(r.getString(3)).getOrElse("-"),
        if (r.isNullAt(4)) "-" else r.getLong(4).toString,
        r.getBoolean(5).toString).mkString("|"))
      .toSet

  test("stream rows == batch rows on mixed zip/tar drops with quarantines") {
    val dir = Files.createTempDirectory("arch_text").toFile
    writeDrops(dir)

    val q = Pipelines.archiveTextStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("arch_text")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = rowSet(spark.table("arch_text"))

    val batch = rowSet(Pipelines.archiveText(spark.read
      .format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(dir.getAbsolutePath)))
    assert(streamed == batch, "stream and batch projections drifted")

    // the content assertions, on either side
    def find(member: String): String =
      streamed.find(_.contains(s"|$member|")).getOrElse(
        fail(s"member $member missing from $streamed"))
    assert(find("notes/readme.txt").contains("|txt|plain text member|17|true"))
    assert(find("docs/report.pdf").contains("|pdf|") &&
      find("docs/report.pdf").contains("pdf page one") &&
      find("docs/report.pdf").contains("true"))
    assert(find("docs/memo.docx").contains("|docx|docx body text|14|true"))
    assert(find("blob/image.bin").contains("|other|-|-|false"))
    assert(find("bad/corrupt.txt").contains("|corrupt|-|-|false"))
    assert(find("t.txt").contains("|txt|tar text member|15|true"))
    assert(find("p.pdf").contains("tar pdf page"))
    // shared-string resolution, tabs between cells, newline between rows,
    // sheets joined in NUMERIC order regardless of archive order
    assert(find("sheet.xlsx").contains(
      "|xlsx|beta cell\t42\tinline one\nalpha cell\n99|"))
    assert(find("sheet.xlsx").endsWith("true"))
    // runs concatenate within a paragraph; paragraphs and slides newline
    assert(find("deck.pptx").contains(
      "|pptx|slide 1 title\nbody 1\nslide 2 title\nbody 2|"))
    assert(find("deck.pptx").endsWith("true"))
    // round-11 members: element-encoded ODT whitespace survives, EPUB
    // chapters join by newline in spine order, RTF destinations skipped
    assert(find("doc.odt").contains(
      "|odt|odt c1\tc2  wide\nodt & fin|"))
    assert(find("doc.odt").endsWith("true"))
    assert(find("sheet.ods").contains("|ods|ods a\tods  b\nods c|"))
    assert(find("sheet.ods").endsWith("true"))
    assert(find("deck.odp").contains("|odp|odp t1\nodp b1\nodp t2|"))
    assert(find("deck.odp").endsWith("true"))
    assert(find("book.epub").contains("|epub|epub one\nepub two|"))
    assert(find("book.epub").endsWith("true"))
    assert(find("note.rtf").contains("|rtf|rtf {body} — end|"))
    assert(find("note.rtf").endsWith("true"))
    assert(find("mail.eml").contains("|eml|eml plain body|"))
    assert(find("mail.eml").endsWith("true"))
    assert(find("gz.txt").contains("|txt|gzipped tar member|"))
    assert(find("gz.txt").endsWith("true"))
    // nested-archive expansion: bang-prefixed names, full extraction
    assert(find("inner.zip!n/one.txt").contains("|txt|nested text one|"))
    assert(find("inner.zip!n/one.txt").endsWith("true"))
    assert(find("inner.zip!n/two.rtf").contains("|rtf|nested rtf|"))
    // nested .tgz rides the tar arm (NOT the gz unwrap) and explodes
    assert(find("inner2.tgz!deep.txt").contains("|txt|nested tgz member|"))
    assert(find("inner2.tgz!deep.txt").endsWith("true"))
    // .zst members: in-place unwrap (name loses .zst) and .tar.zst walk
    assert(find("note2.txt").contains("|txt|zstd member text|"))
    assert(find("note2.txt").endsWith("true"))
    assert(find("zs.txt").contains("|txt|zstd tar member|"))
    assert(find("zs.txt").endsWith("true"))
    // .xz members: in-place unwrap and .tar.xz walk
    assert(find("note3.txt").contains("|txt|xz member text|"))
    assert(find("note3.txt").endsWith("true"))
    assert(find("xzm.txt").contains("|txt|xz tar member|"))
    assert(find("xzm.txt").endsWith("true"))
    // .7z members extract through the shared chain (Copy/LZMA2/LZMA
    // coders round-robin; the header here is itself LZMA2-compressed)
    assert(find("seven/one.txt").contains("|txt|7z member one|"))
    assert(find("seven/one.txt").endsWith("true"))
    assert(find("seven/two.rtf").contains("|rtf|7z rtf|"))
    assert(find("seven/three.txt").contains("|txt|7z member three|"))
    assert(streamed.count(_.contains("|torn.zip|")) == 1)
    assert(find("torn.zip").contains("|corrupt|-|-|false"))
    // container-level quarantines: exactly one row each, kind unreadable
    assert(streamed.count(_.startsWith("c.zip|")) == 1)
    assert(streamed.find(_.startsWith("c.zip|")).get
      .contains("|unreadable|"))
    assert(streamed.count(_.startsWith("d.tar|")) == 1)
    assert(streamed.find(_.startsWith("d.tar|")).get
      .contains("|unreadable|"))
  }
}
