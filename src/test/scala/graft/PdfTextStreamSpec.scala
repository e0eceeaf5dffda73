package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Pdfs
import graft.streaming.Pipelines

/** Streaming PDF text ingest: PDFs dropped into a watched directory emit
  * per-page text rows that match a batch replay of the same extractor,
  * and a structurally broken file surfaces as one quarantine row instead
  * of throwing or vanishing. */
class PdfTextStreamSpec extends AnyFunSuite with LocalSpark {

  test("stream pages == batch extraction; broken file routes to quarantine") {
    val dir = Files.createTempDirectory("pdf_stream").toFile
    val a = Pdfs.buildPdfWithText(
      Seq("alpha page one body", "alpha (page) two\nwith escapes \\ inside"),
      flate = false)
    val b = Pdfs.buildPdfWithText(Seq("beta deflated body " * 3), flate = true)
    val broken = a.dropRight(30)
    // the standing query must serve every container generation the batch
    // extractor does: modern xref-stream/ObjStm layout, an incrementally
    // updated file, and font-encoded text
    val m = Pdfs.buildPdfModern(Seq("modern stream page", "second"), flate = true)
    val u = Pdfs.appendPdfUpdate(
      Pdfs.buildPdfWithText(Seq("original body"), flate = false),
      0, "updated body", flate = true)
    val e = Pdfs.buildPdfWithEncodedText("enc line", "cmap line", flate = true)
    Files.write(new java.io.File(dir, "a.pdf").toPath, a)
    Files.write(new java.io.File(dir, "b.pdf").toPath, b)
    Files.write(new java.io.File(dir, "broken.pdf").toPath, broken)
    Files.write(new java.io.File(dir, "m.pdf").toPath, m)
    Files.write(new java.io.File(dir, "u.pdf").toPath, u)
    Files.write(new java.io.File(dir, "e.pdf").toPath, e)

    val q = Pipelines.pdfTextStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("pdf_text_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val rows = spark.table("pdf_text_stream").collect()
      .map(r => (r.getString(0).split('/').last, r.getInt(1),
        Option(r.getString(2)), r.getBoolean(4)))
      .sortBy(t => (t._1, t._2)).toSeq

    // batch replay is the ground truth
    val expA = Pdfs.pdfText(a).toSeq
    val expB = Pdfs.pdfText(b).toSeq
    assert(rows.filter(_._1 == "a.pdf").map(_._3.get) == expA)
    assert(rows.filter(_._1 == "b.pdf").map(_._3.get) == expB)
    assert(rows.filter(_._1 == "a.pdf").map(_._2) == Seq(1, 2))
    assert(rows.filter(_._1 == "a.pdf").forall(_._4))
    // quarantine: exactly one row, page -1, null text, ok=false
    val bad = rows.filter(_._1 == "broken.pdf")
    assert(bad == Seq(("broken.pdf", -1, None, false)))
    // modern container, incremental update, and font encodings flow
    // through the SAME standing query, each matching its batch replay
    assert(rows.filter(_._1 == "m.pdf").map(_._3.get) == Pdfs.pdfText(m).toSeq)
    assert(rows.filter(_._1 == "u.pdf").map(_._3.get) == Pdfs.pdfText(u).toSeq)
    assert(rows.filter(_._1 == "u.pdf").head._3.get.contains("updated body"))
    assert(rows.filter(_._1 == "e.pdf").map(_._3.get) ==
      Seq("«enc line»\ncmap lineqq"))
  }
}
