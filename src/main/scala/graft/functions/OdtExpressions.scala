package graft.functions

import scala.util.control.NonFatal

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free OpenDocument Text extraction (OASIS ODF 1.3, a public
  * spec; parts 2-3 define the package and schema). ODT is the
  * LibreOffice/OpenOffice sibling of DOCX: a ZIP whose `content.xml`
  * carries the body. Two schema rules make a naive tag-strip WRONG and
  * drive this walk:
  *
  *  - whitespace is ELEMENT-ENCODED (ODF part 3 §6.1.2-6.1.3): writers
  *    collapse runs of spaces and emit `<text:s text:c="N"/>` for N
  *    spaces, `<text:tab/>` for tabs, `<text:line-break/>` for newlines —
  *    strip those tags and the reconstructed text silently loses its
  *    whitespace (columns merge, the DOCX x232 lesson in ODF dress);
  *  - footnote/annotation subtrees (`<text:note>`, `<office:annotation>`)
  *    nest INSIDE paragraphs but are not body text.
  *
  * Paragraphs are `<text:p>` / `<text:h>` in document order, joined by
  * newline; `<text:span>` runs concatenate with no separator. The
  * `mimetype` member must read `application/vnd.oasis.opendocument.text`
  * (part 2 §3.3) — anything else quarantines (null), as does a missing
  * or unparseable `content.xml`. Never throws. */
object Odts {

  private val Mime = "application/vnd.oasis.opendocument.text"

  // hot-path patterns compiled once (these run per row at corpus scale,
  // and the space-run pattern would otherwise recompile per element).
  // The attribute part is `(?:[^>/]|/(?!>))*`, NOT `[^>]*`: a greedy
  // any-but-'>' would swallow the '/' of a SELF-CLOSING element, make
  // the '>' alternative match, and run the lazy body to the NEXT closing
  // tag — merging an empty cell/row/paragraph with its neighbor
  // (LibreOffice routinely writes `<table:table-cell/>` padding).
  private val Attrs = "(?:[^>/]|/(?!>))*"
  private val PRe = java.util.regex.Pattern.compile(
    "<text:(p|h)\\b" + Attrs + "(/>|>(.*?)</text:\\1>)",
    java.util.regex.Pattern.DOTALL)
  private val SRe = java.util.regex.Pattern.compile("<text:s\\b([^>]*)/>")
  private val CRe = java.util.regex.Pattern.compile("text:c\\s*=\\s*\"(\\d+)\"")

  /** Body text of an ODT payload, or null when it isn't one. */
  def odtText(bytes: Array[Byte]): String = {
    try odtTextImpl(bytes)
    catch { case NonFatal(_) => null }
  }

  /** content.xml of an ODF package whose mimetype matches, with the
    * note/annotation subtrees already dropped — they nest whole
    * PARAGRAPHS inside a paragraph (ODF part 3 §6.3), so they must drop
    * BEFORE paragraph matching or they'd false-terminate the non-greedy
    * body match. Null when the package/mimetype/content is broken. */
  private def contentXml(bytes: Array[Byte], mime: String): String = {
    val es = Archives.zipEntries(bytes)
    if (es == null) return null
    var m: Array[Byte] = null
    var content: Array[Byte] = null
    for (e <- es if e._4 && e._5 != null) e._1 match {
      case "mimetype" => m = e._5
      case "content.xml" => content = e._5
      case _ => ()
    }
    if (m == null || new String(m, "US-ASCII").trim != mime) return null
    if (content == null) return null
    new String(content, "UTF-8")
      .replaceAll("(?s)<text:note\\b.*?</text:note>", "")
      .replaceAll("(?s)<office:annotation\\b.*?</office:annotation>", "")
  }

  private def odtTextImpl(bytes: Array[Byte]): String = {
    val xml = contentXml(bytes, Mime)
    if (xml == null) return null
    val out = new java.lang.StringBuilder
    // <text:p>/<text:h> in document order; with note subtrees gone ODF
    // has no direct p-in-p nesting, so a non-greedy body match is exact.
    // Self-closing empty paragraphs contribute their newline.
    val m = PRe.matcher(xml)
    var first = true
    while (m.find()) {
      if (!first) out.append('\n')
      first = false
      val body = m.group(3)
      if (body != null) out.append(paraText(body))
    }
    if (first) null else out.toString
  }

  /** One paragraph's XML → text: expand the whitespace elements, strip
    * the remaining (span) tags, decode entities. */
  private def paraText(body: String): String = {
    var s = body
    s = s.replaceAll("<text:tab\\s*/>", "\t")
    s = s.replaceAll("<text:line-break\\s*/>", "\n")
    // <text:s text:c="N"/> = N spaces; bare <text:s/> = one
    val sb = new java.lang.StringBuilder
    val m = SRe.matcher(s)
    var last = 0
    while (m.find()) {
      sb.append(s, last, m.start())
      val cm = CRe.matcher(m.group(1))
      val n = if (cm.find()) math.min(cm.group(1).toInt, 1 << 20) else 1
      var k = 0
      while (k < n) { sb.append(' '); k += 1 }
      last = m.end()
    }
    sb.append(s, last, s.length)
    Epubs.decodeEntities(sb.toString.replaceAll("<[^>]*>", ""))
  }

  /** All `<text:p>`/`<text:h>` paragraphs of one XML region, newline-
    * joined ("" when the region has none). */
  private def parasOf(region: String): String = {
    val out = new java.lang.StringBuilder
    val m = PRe.matcher(region)
    var first = true
    while (m.find()) {
      if (!first) out.append('\n')
      first = false
      val body = m.group(3)
      if (body != null) out.append(paraText(body))
    }
    out.toString
  }

  private val OdsMime = "application/vnd.oasis.opendocument.spreadsheet"
  private val OdpMime = "application/vnd.oasis.opendocument.presentation"
  private val RowRe = java.util.regex.Pattern.compile(
    "<table:table-row\\b" + Attrs + "(/>|>(.*?)</table:table-row>)",
    java.util.regex.Pattern.DOTALL)
  private val CellRe = java.util.regex.Pattern.compile(
    "<table:table-cell\\b" + Attrs + "(/>|>(.*?)</table:table-cell>)",
    java.util.regex.Pattern.DOTALL)
  private val PageRe = java.util.regex.Pattern.compile(
    "<draw:page\\b[^>]*>(.*?)</draw:page>",
    java.util.regex.Pattern.DOTALL)

  /** ODS (OpenDocument SPREADSHEET) → text: the XLSX rule in ODF dress —
    * cells joined by tab, rows by newline (a cell's own paragraphs join
    * by newline inside the cell). Covered-cells and column-repetition
    * attributes are ignored for text (repetition encodes blank padding,
    * not content). Null when the package or mimetype is wrong. */
  def odsText(bytes: Array[Byte]): String = {
    try {
      val xml = contentXml(bytes, OdsMime)
      if (xml == null) return null
      val out = new java.lang.StringBuilder
      val rm = RowRe.matcher(xml)
      var firstRow = true
      while (rm.find()) {
        if (!firstRow) out.append('\n')
        firstRow = false
        val row = rm.group(2)
        if (row != null) {
          val cm = CellRe.matcher(row)
          var firstCell = true
          while (cm.find()) {
            if (!firstCell) out.append('\t')
            firstCell = false
            val cell = cm.group(2)
            if (cell != null) out.append(parasOf(cell))
          }
        }
      }
      if (firstRow) null else out.toString
    } catch { case NonFatal(_) => null }
  }

  /** ODP (OpenDocument PRESENTATION) → one text per `<draw:page>` in
    * deck order (the PPTX page model; paragraphs join by newline inside
    * a page). Presenter NOTES are not slide text and are dropped like
    * ODT footnotes. Null when the package or mimetype is wrong. */
  def odpSlides(bytes: Array[Byte]): Array[String] = {
    try {
      val xml0 = contentXml(bytes, OdpMime)
      if (xml0 == null) return null
      val xml = xml0.replaceAll(
        "(?s)<presentation:notes\\b.*?</presentation:notes>", "")
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val pm = PageRe.matcher(xml)
      while (pm.find()) out += parasOf(pm.group(1))
      if (out.isEmpty) null else out.toArray
    } catch { case NonFatal(_) => null }
  }

  /** Fixture encoder for ODS: rows of cell texts (cells may carry tabs/
    * newlines/space runs — the ODT element encoding applies inside each
    * cell paragraph). */
  def buildOds(rows: Seq[Seq[String]]): Array[Byte] =
    buildOdf(OdsMime,
      "<office:spreadsheet><table:table table:name=\"S1\">" + rows.map {
        cells =>
          "<table:table-row>" + cells.map(c =>
            "<table:table-cell office:value-type=\"string\"><text:p>" +
              encodeRun(c) + "</text:p></table:table-cell>").mkString +
            "</table:table-row>"
      }.mkString + "</table:table></office:spreadsheet>")

  /** Fixture encoder for ODP: slides of paragraph lists, each slide a
    * `<draw:page>` with a text frame plus a presenter-notes decoy that
    * must NOT surface. */
  def buildOdp(slides: Seq[Seq[String]]): Array[Byte] =
    buildOdf(OdpMime,
      "<office:presentation>" + slides.zipWithIndex.map { case (ps, i) =>
        s"""<draw:page draw:name="page${i + 1}">""" +
          "<draw:frame><draw:text-box>" +
          ps.map(p => "<text:p>" + encodeRun(p) + "</text:p>").mkString +
          "</draw:text-box></draw:frame>" +
          "<presentation:notes><draw:frame><draw:text-box>" +
          "<text:p>not slide text</text:p>" +
          "</draw:text-box></draw:frame></presentation:notes>" +
          "</draw:page>"
      }.mkString + "</office:presentation>")

  private def buildOdf(mime: String, body: String): Array[Byte] = {
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<office:document-content
        |  xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
        |  xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"
        |  xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
        |  xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"
        |  xmlns:presentation=
        |    "urn:oasis:names:tc:opendocument:xmlns:presentation:1.0"
        |  office:version="1.3"><office:body>""".stripMargin +
        body + "</office:body></office:document-content>"
    Archives.buildZip(Seq(
      ("mimetype", mime.getBytes("US-ASCII"), false),
      ("META-INF/manifest.xml",
        "<manifest:manifest/>".getBytes("UTF-8"), true),
      ("content.xml", content.getBytes("UTF-8"), true)))
  }

  /** Fixture encoder the parser must invert exactly: paragraphs render
    * with runs split across two `<text:span>`s, tabs/newlines/space-runs
    * as their ODF elements (2+ spaces collapse to one plus
    * `<text:s text:c="N"/>` — the writer-side rule), plus a footnote and
    * an annotation that must NOT surface. `mimetype` ships stored-first
    * (part 2 §3.2's layout). */
  /** Writer-side run encoding shared by all three ODF builders: XML
    * escape, tabs/newlines as their elements, 2+ space runs collapsed to
    * one plus `<text:s text:c="n-1"/>`. */
  private def encodeRun(t: String): String = {
    val esc = Epubs.xmlEscape(t)
      .replace("\t", "<text:tab/>")
      .replace("\n", "<text:line-break/>")
    val m = java.util.regex.Pattern.compile("  +").matcher(esc)
    val sb = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(esc, last, m.start()).append(' ')
        .append("<text:s text:c=\"").append(m.end() - m.start() - 1)
        .append("\"/>")
      last = m.end()
    }
    sb.append(esc, last, esc.length)
    sb.toString
  }

  def buildOdt(paragraphs: Seq[String]): Array[Byte] = {
    val ps = paragraphs.map { p =>
      val cut = p.length / 2
      "<text:p text:style-name=\"P1\"><text:span text:style-name=\"T1\">" +
        encodeRun(p.substring(0, cut)) + "</text:span><text:span>" +
        encodeRun(p.substring(cut)) +
        "<text:note text:note-class=\"footnote\"><text:note-body>" +
        "<text:p>not body text</text:p></text:note-body></text:note>" +
        "</text:span></text:p>"
    }.mkString
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<office:document-content
        |  xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
        |  xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"
        |  office:version="1.3"><office:body><office:text>""".stripMargin +
        ps + "</office:text></office:body></office:document-content>"
    Archives.buildZip(Seq(
      ("mimetype", Mime.getBytes("US-ASCII"), false),
      ("META-INF/manifest.xml",
        "<manifest:manifest/>".getBytes("UTF-8"), true),
      ("content.xml", content.getBytes("UTF-8"), true),
      ("styles.xml", "<office:document-styles/>".getBytes("UTF-8"), true)))
  }
}

/** `odt_text(binary)` → body text (paragraphs newline-joined); null when
  * the payload is not an OpenDocument Text package. */
case class OdtText(child: Expression) extends BinaryCodecExpression("odt_text", StringType) {
  override def nullSafeEval(payload: Any): Any = {
    val s = Odts.odtText(payload.asInstanceOf[Array[Byte]])
    if (s == null) null else UTF8String.fromString(s)
  }

  override protected def withNewChildInternal(newChild: Expression): OdtText =
    copy(child = newChild)
}

object OdtText {
  def odtText(media: Column): Column =
    GraftColumnShim.column(OdtText(GraftColumnShim.expression(media)))
}

/** `ods_text(binary)` → spreadsheet text (cells tab-joined, rows
  * newline-joined); null when not an OpenDocument Spreadsheet. */
case class OdsText(child: Expression) extends BinaryCodecExpression("ods_text", StringType) {
  override def nullSafeEval(payload: Any): Any = {
    val s = Odts.odsText(payload.asInstanceOf[Array[Byte]])
    if (s == null) null else UTF8String.fromString(s)
  }

  override protected def withNewChildInternal(newChild: Expression): OdsText =
    copy(child = newChild)
}

object OdsText {
  def odsText(media: Column): Column =
    GraftColumnShim.column(OdsText(GraftColumnShim.expression(media)))
}

/** `odp_slides(binary)` → `array<string>`, one text per `<draw:page>`
  * in deck order; null when not an OpenDocument Presentation. */
case class OdpSlides(child: Expression)
    extends BinaryCodecExpression("odp_slides", ArrayType(StringType, containsNull = false)) {
  override def nullSafeEval(payload: Any): Any = {
    val ss = Odts.odpSlides(payload.asInstanceOf[Array[Byte]])
    if (ss == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ss.map(UTF8String.fromString(_): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): OdpSlides =
    copy(child = newChild)
}

object OdpSlides {
  def odpSlides(media: Column): Column =
    GraftColumnShim.column(OdpSlides(GraftColumnShim.expression(media)))
}
