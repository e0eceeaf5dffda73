package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Archives, Emls, Epubs, Odts, Pdfs, Rtfs}
import graft.streaming.Pipelines

/** Bare-document ingest (`docText` / `docTextStream`): loose files in a
  * watched directory extract through the SAME member-level chain as
  * archive members, so the two ingest surfaces cannot drift. The spec's
  * core assertions: stream ≡ batch on a mixed drop, bare-file text ≡
  * the same payload's in-archive text, and the dead-letter posture
  * (unknown extension and broken inner format keep their rows with
  * ok = false — route, don't drop). */
class DocTextStreamSpec extends AnyFunSuite with LocalSpark {

  private def payloads: Seq[(String, Array[Byte])] = Seq(
    ("plain.txt", "loose text file".getBytes),
    ("report.pdf", Pdfs.buildPdfWithText(Seq("pdf page one"), flate = true)),
    ("doc.odt", Odts.buildOdt(Seq("odt a\tb  c", "odt fin"))),
    ("book.epub", Epubs.buildEpub(Seq(("c1.xhtml", "epub one")))),
    ("note.rtf", Rtfs.buildRtf("rtf {x} — end")),
    ("mail.eml", Emls.buildEml("s", "a@b.c", "d", "eml body",
      encoding = "base64", htmlAlt = true)),
    ("broken.odt", Odts.buildOdt(Seq("will tear")).dropRight(12)),
    ("blob.bin", Array.tabulate[Byte](32)(_.toByte)),
    // single-file gzip: unwraps in place and re-dispatches on the
    // inner extension; a torn stream keeps a dead-letter row
    ("notes.txt.gz", gz("gz text body".getBytes)),
    ("torn.txt.gz", gz("will break".getBytes).dropRight(5)),
    ("dump.txt.bz2", graft.functions.Bzip2.encode("bz2 text body".getBytes)),
    // .tar.bz2 composes: bz2 unwrap -> name drops to .tar -> tar arm
    // explodes its members in the same expansion pass
    ("bundle.tar.bz2", graft.functions.Bzip2.encode(
      Archives.buildTar(Seq(
        ("inner/tb.txt", "0", "tar bz2 member".getBytes))))))

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("path", "kind", "text", "ok").collect()
      .map(r => Seq(
        r.getString(0).split('/').last, r.getString(1),
        Option(r.getString(2)).getOrElse("-"),
        r.getBoolean(3).toString).mkString("|"))
      .toSet

  test("stream == batch on mixed loose drops; bare == in-archive text") {
    val dir = Files.createTempDirectory("doc_text").toFile
    for ((name, bytes) <- payloads)
      Files.write(new java.io.File(dir, name).toPath, bytes)

    val q = Pipelines.docTextStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("doc_text")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = rowSet(spark.table("doc_text"))

    def load(d: java.io.File) = spark.read.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(d.getAbsolutePath)
    val batch = rowSet(Pipelines.docText(load(dir)))
    assert(streamed == batch, "stream and batch projections drifted")

    def find(name: String): String =
      streamed.find(_.startsWith(s"$name|")).getOrElse(
        fail(s"$name missing from $streamed"))
    assert(find("plain.txt") == "plain.txt|txt|loose text file|true")
    assert(find("report.pdf").contains("pdf page one") &&
      find("report.pdf").endsWith("true"))
    assert(find("doc.odt") == "doc.odt|odt|odt a\tb  c\nodt fin|true")
    assert(find("book.epub") == "book.epub|epub|epub one|true")
    assert(find("note.rtf") == "note.rtf|rtf|rtf {x} — end|true")
    assert(find("mail.eml") == "mail.eml|eml|eml body|true")
    // dead letters: broken inner format and unknown extension keep rows
    assert(find("broken.odt") == "broken.odt|odt|-|false")
    assert(find("blob.bin") == "blob.bin|other|-|false")
    // single-file gzip unwraps and re-dispatches (the path keeps its
    // .gz, the member name drops it); torn gzip dead-letters
    assert(find("notes.txt.gz") == "notes.txt.gz|txt|gz text body|true")
    assert(find("torn.txt.gz") == "torn.txt.gz|corrupt|-|false")
    assert(find("dump.txt.bz2") == "dump.txt.bz2|txt|bz2 text body|true")
    assert(find("bundle.tar.bz2") ==
      "bundle.tar.bz2|txt|tar bz2 member|true")

    // the SAME payloads zipped extract to the same text member-wise —
    // compared on the MEMBER name, which both sides normalize (a .gz
    // member drops its suffix on unwrap; the file path keeps it)
    val zdir = Files.createTempDirectory("doc_text_zip").toFile
    Files.write(new java.io.File(zdir, "all.zip").toPath,
      Archives.buildZip(payloads.map { case (n, b) => (n, b, true) }))
    def memberSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      rowSet(df.selectExpr("member AS path", "kind", "text", "ok"))
    val inArchive = memberSet(Pipelines.archiveText(load(zdir)))
    val bare = memberSet(Pipelines.docText(load(dir)))
    assert(inArchive == bare,
      "bare-file and in-archive extraction drifted")
  }
}
