package graft.functions

import scala.util.control.NonFatal

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free EPUB chapter extraction (W3C EPUB 3.3 + OCF 3.3, both
  * public specs). An EPUB is ZIP CONTAINER INDIRECTION, three hops deep —
  * which is exactly why a naive "grep the zip for .xhtml members" walk is
  * wrong (books carry nav docs, covers, and unlinked assets; reading
  * order lives nowhere but the spine):
  *
  *  1. the `mimetype` member must read `application/epub+zip` (OCF §4.3;
  *     anything else is not an EPUB — quarantine, don't guess);
  *  2. `META-INF/container.xml` names the package document via the first
  *     `<rootfile full-path="...">` (OCF §4.2.6);
  *  3. the package document's `<manifest>` maps ids → hrefs (relative to
  *     the PACKAGE's directory, not the zip root) and its `<spine>` lists
  *     `<itemref idref>`s in READING ORDER — that order, not zip order,
  *     is the corpus document order.
  *
  * Chapter XHTML reduces to text with the same declarative rules the
  * htmlMainText strip chain uses: head/script/style subtrees drop, block
  * closers and `<br/>` become newlines, remaining tags strip, the five
  * XML entities plus numeric references decode, and blank lines collapse.
  * Hops that fail structurally return null for the whole book (container
  * broken = unreadable); a spine item whose member is MISSING keeps its
  * row with null text (route, don't silently shrink the spine). */
object Epubs {

  /** (href, text|null) per spine item in reading order; null when the
    * container, mimetype, container.xml, or package document is broken. */
  def epubChapters(bytes: Array[Byte]): Array[(String, String)] = {
    try epubChaptersImpl(bytes)
    catch { case NonFatal(_) => null }
  }

  private def epubChaptersImpl(bytes: Array[Byte]): Array[(String, String)] = {
    val es = Archives.zipEntries(bytes)
    if (es == null) return null
    val byName = new java.util.HashMap[String, Array[Byte]]
    for (e <- es if e._4 && e._5 != null) byName.put(e._1, e._5)
    val mt = byName.get("mimetype")
    if (mt == null || new String(mt, "US-ASCII").trim !=
      "application/epub+zip") return null
    val container = byName.get("META-INF/container.xml")
    if (container == null) return null
    val opfPath = attr(new String(container, "UTF-8"), "rootfile", "full-path")
    if (opfPath == null) return null
    val opfBytes = byName.get(opfPath)
    if (opfBytes == null) return null
    val opf = new String(opfBytes, "UTF-8")
    val opfDir = {
      val cut = opfPath.lastIndexOf('/')
      if (cut < 0) "" else opfPath.substring(0, cut + 1)
    }
    // manifest id -> href (attribute order in <item> is writer's choice)
    val manifest = new java.util.HashMap[String, String]
    val itemRe = java.util.regex.Pattern.compile("<item\\b[^>]*>")
    val im = itemRe.matcher(opf)
    while (im.find()) {
      val tag = im.group()
      val id = attrOf(tag, "id")
      val href = attrOf(tag, "href")
      if (id != null && href != null) manifest.put(id, href)
    }
    val refs = new scala.collection.mutable.ArrayBuffer[String]
    val refRe = java.util.regex.Pattern.compile("<itemref\\b[^>]*>")
    val rm = refRe.matcher(opf)
    while (rm.find()) {
      val idref = attrOf(rm.group(), "idref")
      if (idref != null && manifest.containsKey(idref))
        refs += manifest.get(idref)
    }
    refs.map { href =>
      val full = resolve(opfDir, href)
      val payload = byName.get(full)
      (href, if (payload == null) null
             else xhtmlText(new String(payload, "UTF-8")))
    }.toArray
  }

  /** First `name="value"` on the first `<elem ...>` tag, else null. */
  private def attr(xml: String, elem: String, name: String): String = {
    val m = java.util.regex.Pattern.compile("<" + elem + "\\b[^>]*>")
      .matcher(xml)
    if (m.find()) attrOf(m.group(), name) else null
  }

  private def attrOf(tag: String, name: String): String = {
    val m = java.util.regex.Pattern
      .compile("\\b" + name + "\\s*=\\s*\"([^\"]*)\"").matcher(tag)
    if (m.find()) m.group(1) else null
  }

  /** Resolve `href` against `dir/`, folding `../` and `./` segments. */
  private def resolve(dir: String, href: String): String = {
    val segs = new scala.collection.mutable.ArrayBuffer[String]
    for (s <- (dir + href).split("/") if s.nonEmpty && s != ".")
      if (s == "..") { if (segs.nonEmpty) segs.remove(segs.length - 1) }
      else segs += s
    segs.mkString("/")
  }

  /** XHTML → plain text: drop head/script/style subtrees, newline block
    * closers and `<br/>`, strip tags, decode entities, collapse blanks. */
  def xhtmlText(xhtml: String): String = {
    var s = xhtml
    s = s.replaceAll("(?is)<head\\b.*?</head>", "")
    s = s.replaceAll("(?is)<script\\b.*?</script>", "")
    s = s.replaceAll("(?is)<style\\b.*?</style>", "")
    s = s.replaceAll("(?i)<br\\s*/?>", "\n")
    s = s.replaceAll("(?i)</(p|h[1-6]|li|div|tr|blockquote|section)>", "\n")
    s = s.replaceAll("<[^>]*>", "")
    s = decodeEntities(s)
    s.split("\n", -1).iterator.map(_.trim).filter(_.nonEmpty).mkString("\n")
  }

  /** The five XML entities + decimal/hex numeric references; `&amp;`
    * decodes LAST so `&amp;lt;` yields the literal `&lt;`. */
  def decodeEntities(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        val handled = semi > i && semi - i <= 10 && {
          val name = s.substring(i + 1, semi)
          name match {
            case "lt" => sb.append('<'); true
            case "gt" => sb.append('>'); true
            case "quot" => sb.append('"'); true
            case "apos" => sb.append('\''); true
            case "amp" => sb.append('&'); true
            case n if n.startsWith("#x") || n.startsWith("#X") =>
              try { sb.appendCodePoint(Integer.parseInt(n.substring(2), 16)); true }
              catch { case NonFatal(_) => false }
            case n if n.startsWith("#") =>
              try { sb.appendCodePoint(Integer.parseInt(n.substring(1))); true }
              catch { case NonFatal(_) => false }
            case _ => false
          }
        }
        if (handled) i = semi + 1
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** XML-escape for the fixture builders. */
  def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Fixture encoder: a spec-layout EPUB — stored `mimetype` first (OCF
    * §4.3's layout), container.xml → `OEBPS/content.opf`, one XHTML
    * member per chapter plus an UNLINKED decoy member that a spine-less
    * walk would wrongly include. Chapter text lines become `<p>`s. */
  def buildEpub(chapters: Seq[(String, String)],
      omit: Set[String] = Set.empty,
      mime: String = "application/epub+zip"): Array[Byte] = {
    val container =
      """<?xml version="1.0"?>
        |<container version="1.0"
        |  xmlns="urn:oasis:names:tc:opendocument:xmlns:container">
        |  <rootfiles><rootfile full-path="OEBPS/content.opf"
        |    media-type="application/oebps-package+xml"/></rootfiles>
        |</container>""".stripMargin
    val items = chapters.zipWithIndex.map { case ((href, _), i) =>
      s"""<item id="c$i" href="${xmlEscape(href)}"
         | media-type="application/xhtml+xml"/>""".stripMargin.replace("\n", "")
    }.mkString
    val refs = chapters.indices.map(i => s"""<itemref idref="c$i"/>""").mkString
    val opf =
      s"""<?xml version="1.0"?>
         |<package xmlns="http://www.idpf.org/2007/opf" version="3.0"
         |  unique-identifier="uid">
         |  <metadata><dc:title
         |    xmlns:dc="http://purl.org/dc/elements/1.1/">t</dc:title>
         |  </metadata>
         |  <manifest>$items<item id="decoy" href="decoy.xhtml"
         |    media-type="application/xhtml+xml"/></manifest>
         |  <spine>$refs</spine>
         |</package>""".stripMargin
    def xhtml(text: String): String =
      "<?xml version=\"1.0\"?><html xmlns=\"http://www.w3.org/1999/xhtml\">" +
        "<head><title>head is not body text</title><style>p{}</style></head>" +
        "<body>" + text.split("\n", -1)
          .map(l => "<p>" + xmlEscape(l) + "</p>").mkString + "</body></html>"
    val members =
      Seq(("mimetype", mime.getBytes("US-ASCII"), false),
        ("META-INF/container.xml", container.getBytes("UTF-8"), true),
        ("OEBPS/content.opf", opf.getBytes("UTF-8"), true)) ++
        chapters.collect { case (href, text) if !omit(href) =>
          ("OEBPS/" + href, xhtml(text).getBytes("UTF-8"), true) } :+
        (("OEBPS/decoy.xhtml", xhtml("decoy body").getBytes("UTF-8"), true))
    Archives.buildZip(members)
  }
}

/** `epub_chapters(binary)` → `array<struct<href string, text string>>`
  * in spine order; null when the book's container chain is broken. */
case class EpubChapters(child: Expression)
    extends BinaryCodecExpression("epub_chapters", EpubChapters.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val cs = Epubs.epubChapters(payload.asInstanceOf[Array[Byte]])
    if (cs == null) null
    else new GenericArrayData(cs.map(c => InternalRow(
      UTF8String.fromString(c._1),
      if (c._2 == null) null else UTF8String.fromString(c._2)): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): EpubChapters =
    copy(child = newChild)
}

object EpubChapters {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("href", StringType),
    StructField("text", StringType))), containsNull = false)

  def epubChapters(media: Column): Column =
    GraftColumnShim.column(EpubChapters(GraftColumnShim.expression(media)))
}
