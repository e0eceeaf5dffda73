package graft.functions

import scala.util.control.NonFatal

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free RFC 5322 / MIME email extraction — the `.eml` corpus
  * format (mail archives are a major enterprise-corpus source, and the
  * reference's metadata-extraction posture — headers first, body routed
  * by declared type — maps directly, cf. the header-block parse in
  * openmsistream's metadata reproducer). Three public-spec layers:
  *
  *  - RFC 5322 header block: CRLF (or bare-LF) lines up to the first
  *    blank line, CONTINUATION lines (leading WSP) unfold into their
  *    predecessor before any name/value split;
  *  - RFC 2047 encoded-words in header values: `=?charset?B?...?=`
  *    (base64) and `=?charset?Q?...?=` (quoted-printable variant where
  *    `_` is SPACE), adjacent encoded-words joined without separators;
  *  - RFC 2045/2046 bodies: `Content-Transfer-Encoding` base64 /
  *    quoted-printable (soft line breaks `=<CRLF>`) / identity, and
  *    multipart bodies split on the `--boundary` lines with RECURSIVE
  *    part walks (multipart/alternative nests multipart/related
  *    routinely).
  *    Body selection is the mail-client rule: the first text/plain part
  *    wins; failing that the first text/html part, tag-stripped through
  *    the same chain as EPUB chapters.
  *
  * A payload with no parseable header block (no header line before the
  * blank-line separator) returns null — the quarantine posture of every
  * other media parser; the walk never throws. */
object Emls {

  /** (subject, from, dt, text) of an RFC 5322 message, or null. */
  def emlParse(bytes: Array[Byte]): (String, String, String, String) = {
    try emlParseImpl(bytes)
    catch { case NonFatal(_) => null }
  }

  private def emlParseImpl(bytes: Array[Byte])
      : (String, String, String, String) = {
    if (bytes == null || bytes.length == 0) return null
    val (headers, body) = splitMessage(bytes)
    if (headers == null || headers.isEmpty) return null
    val subject = headers.get("subject").map(decodeWords).orNull
    val from = headers.get("from").map(decodeWords).orNull
    val dt = headers.get("date").orNull
    // an email without From and Subject and Date is not one
    if (subject == null && from == null && dt == null) return null
    val text = bodyText(headers, body, depth = 0)
    (subject, from, dt, text)
  }

  /** Header map (lowercased names, unfolded values) + raw body bytes.
    * Returns (null, _) when the prefix has no `Name: value` line. */
  private def splitMessage(bytes: Array[Byte])
      : (Map[String, String], Array[Byte]) = {
    // find the blank-line separator on raw bytes (body may be binary)
    var sep = -1
    var i = 0
    while (sep < 0 && i < bytes.length - 1) {
      if (bytes(i) == '\n' &&
        (bytes(i + 1) == '\n' ||
          (bytes(i + 1) == '\r' && i + 2 < bytes.length &&
            bytes(i + 2) == '\n'))) sep = i
      i += 1
    }
    val headEnd = if (sep < 0) bytes.length else sep
    val head = new String(bytes, 0, headEnd, "ISO-8859-1")
    val body =
      if (sep < 0) Array.emptyByteArray
      else {
        val start = if (bytes(sep + 1) == '\r') sep + 3 else sep + 2
        java.util.Arrays.copyOfRange(bytes, start, bytes.length)
      }
    // unfold: a line starting with SP/HT continues the previous value
    val hs = scala.collection.mutable.LinkedHashMap[String, String]()
    var name: String = null
    var value: java.lang.StringBuilder = null
    def flush(): Unit =
      if (name != null && !hs.contains(name)) hs(name) = value.toString.trim
    for (line <- head.split("\r?\n", -1)) {
      if (line.nonEmpty && (line.charAt(0) == ' ' || line.charAt(0) == '\t')) {
        if (value != null) value.append(' ').append(line.trim)
      } else {
        val c = line.indexOf(':')
        // RFC 5322 field names: printable US-ASCII minus colon/space
        if (c > 0 && line.substring(0, c).forall(ch => ch > ' ' && ch < 127
            && ch != ':')) {
          flush()
          name = line.substring(0, c).toLowerCase
          value = new java.lang.StringBuilder(line.substring(c + 1))
        }
      }
    }
    flush()
    (if (hs.isEmpty) null else hs.toMap, body)
  }

  private val WordRe = java.util.regex.Pattern.compile(
    "=\\?([^?]+)\\?([bBqQ])\\?([^?]*)\\?=")

  /** RFC 2047 encoded-words in a header value. */
  def decodeWords(v: String): String = {
    val m = WordRe.matcher(v)
    val sb = new java.lang.StringBuilder
    var last = 0
    var prevEnd = -1
    while (m.find()) {
      val gap = v.substring(last, m.start())
      // whitespace BETWEEN adjacent encoded-words is not content
      // (RFC 2047 §6.2); any other gap is
      if (prevEnd < 0 || gap.trim.nonEmpty) sb.append(gap)
      val cs = charsetOf(m.group(1))
      val raw =
        if (m.group(2).equalsIgnoreCase("b"))
          try java.util.Base64.getMimeDecoder.decode(m.group(3))
          catch { case NonFatal(_) => null }
        else qpDecode(m.group(3).replace('_', ' '), stripSoft = false)
      if (raw == null) sb.append(v, m.start(), m.end())
      else sb.append(new String(raw, cs))
      last = m.end()
      prevEnd = m.end()
    }
    sb.append(v.substring(last))
    sb.toString
  }

  private def charsetOf(name: String): java.nio.charset.Charset = {
    val n = name.trim.toLowerCase
    try java.nio.charset.Charset.forName(n)
    catch { case NonFatal(_) =>
      java.nio.charset.StandardCharsets.UTF_8 }
  }

  /** Quoted-printable: `=XX` bytes; soft line breaks `=<CRLF>` when
    * decoding bodies (RFC 2045 §6.7). Null on malformed escapes. */
  private def qpDecode(s: String, stripSoft: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '=') {
        if (stripSoft && i + 1 < s.length && s.charAt(i + 1) == '\n') i += 2
        else if (stripSoft && i + 2 < s.length && s.charAt(i + 1) == '\r' &&
          s.charAt(i + 2) == '\n') i += 3
        else if (i + 2 < s.length) {
          val h = Character.digit(s.charAt(i + 1), 16)
          val l = Character.digit(s.charAt(i + 2), 16)
          if (h < 0 || l < 0) return null
          out.write(h * 16 + l)
          i += 3
        } else return null
      } else { out.write(c.toInt & 0xff); i += 1 }
    }
    out.toByteArray
  }

  private val BoundaryRe = java.util.regex.Pattern.compile(
    "boundary\\s*=\\s*(\"([^\"]+)\"|([^;\\s]+))",
    java.util.regex.Pattern.CASE_INSENSITIVE)
  private val CharsetRe = java.util.regex.Pattern.compile(
    "charset\\s*=\\s*(\"([^\"]+)\"|([^;\\s]+))",
    java.util.regex.Pattern.CASE_INSENSITIVE)

  /** Body text by MIME type: the first NON-EMPTY text/plain part
    * anywhere in the tree wins; failing that the first non-empty
    * text/html (tag-stripped). Ranking must span the WHOLE tree, not
    * return at the first nested hit — a multipart/mixed whose first
    * part is multipart/related (html + images) followed by a sibling
    * text/plain must still surface the plain body. Empty plain parts
    * lose deliberately: mailers routinely pair an empty plain stub with
    * a full html alternative. */
  private def bodyText(headers: Map[String, String], body: Array[Byte],
      depth: Int): String = {
    val (plain, html) = rankParts(headers, body, depth)
    if (plain != null) plain else html
  }

  /** (first non-empty plain, first non-empty html) of a part subtree. */
  private def rankParts(headers: Map[String, String], body: Array[Byte],
      depth: Int): (String, String) = {
    if (depth > 8) return (null, null)
    val ct = headers.getOrElse("content-type", "text/plain").trim
    val ctLower = ct.toLowerCase
    if (ctLower.startsWith("multipart/")) {
      val bm = BoundaryRe.matcher(ct)
      if (!bm.find()) return (null, null)
      val boundary = Option(bm.group(2)).getOrElse(bm.group(3))
      var plain: String = null
      var html: String = null
      for (p <- splitParts(body, boundary) if plain == null) {
        val (ph, pb) = splitPart(p)
        val (cp, ch) = rankParts(ph, pb, depth + 1)
        if (plain == null && cp != null) plain = cp
        if (html == null && ch != null) html = ch
      }
      (plain, html)
    } else if (ctLower.startsWith("text/html")) {
      val t = decodePart(headers, body)
      val stripped = if (t == null) null else Epubs.xhtmlText(t)
      (null, if (stripped != null && stripped.nonEmpty) stripped else null)
    } else if (ctLower.startsWith("text/")) {
      val t = decodePart(headers, body)
      (if (t != null && t.nonEmpty) t else null, null)
    } else (null, null)
  }

  /** One multipart PART's (headers, body). Unlike the top-level message,
    * a header-less part is LEGAL (RFC 2046 §5.1: a part may begin with
    * the blank line, defaulting to text/plain US-ASCII) — its whole
    * content is body, not garbage. */
  private def splitPart(p: Array[Byte]): (Map[String, String], Array[Byte]) = {
    if (p.length >= 1 && p(0) == '\n')
      return (Map.empty, java.util.Arrays.copyOfRange(p, 1, p.length))
    if (p.length >= 2 && p(0) == '\r' && p(1) == '\n')
      return (Map.empty, java.util.Arrays.copyOfRange(p, 2, p.length))
    val (h, b) = splitMessage(p)
    if (h == null) (Map.empty, p) else (h, b)
  }

  /** Split a multipart body into its parts. RFC 2046 §5.1.1: a delimiter
    * is `--boundary` at LINE START, the full token (only `--`, transport
    * padding, and the line break may follow) — an unanchored substring
    * search would also fire on a body line that merely CONTAINS the
    * boundary string, or on a longer sibling boundary like
    * `--boundary-extra`, truncating parts mid-line. */
  private def splitParts(body: Array[Byte], boundary: String)
      : Seq[Array[Byte]] = {
    val s = new String(body, "ISO-8859-1")
    val re = java.util.regex.Pattern.compile(
      "(?m)^--" + java.util.regex.Pattern.quote(boundary) +
        "(--)?[ \\t]*\\r?(\\n|$)")
    val m = re.matcher(s)
    val parts = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var prevEnd = -1 // content start of the currently open part
    var open = false
    while (m.find()) {
      if (open) {
        // strip the CRLF that belongs to this boundary line
        var e = m.start()
        if (e > prevEnd && s.charAt(math.max(e - 1, 0)) == '\n') e -= 1
        if (e > prevEnd && e > 0 && s.charAt(e - 1) == '\r') e -= 1
        parts += java.util.Arrays.copyOfRange(body, prevEnd, math.max(e, prevEnd))
      }
      if (m.group(1) != null) return parts.toSeq // --boundary-- closes
      open = true
      prevEnd = m.end()
    }
    // unterminated final part (no closing delimiter): keep its content
    if (open && prevEnd <= s.length)
      parts += java.util.Arrays.copyOfRange(body, prevEnd, s.length)
    parts.toSeq
  }

  /** One leaf part: transfer-decode per its headers, charset-decode per
    * its Content-Type. */
  private def decodePart(headers: Map[String, String], body: Array[Byte])
      : String = {
    val enc = headers.getOrElse("content-transfer-encoding", "7bit")
      .trim.toLowerCase
    val raw: Array[Byte] = enc match {
      case "base64" =>
        try java.util.Base64.getMimeDecoder.decode(
          new String(body, "US-ASCII").replaceAll("\\s", ""))
        catch { case NonFatal(_) => null }
      case "quoted-printable" =>
        qpDecode(new String(body, "ISO-8859-1"), stripSoft = true)
      case _ => body
    }
    if (raw == null) return null
    val cm = CharsetRe.matcher(headers.getOrElse("content-type", ""))
    val cs =
      if (cm.find()) charsetOf(Option(cm.group(2)).getOrElse(cm.group(3)))
      else java.nio.charset.StandardCharsets.UTF_8
    val t = new String(raw, cs)
    // trailing CRLF before a boundary is framing, not content
    t.replaceAll("\r\n", "\n").replaceAll("\n+$", "")
  }

  /** Fixture encoder the parser must invert: CRLF framing, RFC 2047
    * B-encoded subject when non-ASCII, body as base64 / quoted-printable
    * / 7bit, optional multipart/alternative with an HTML twin that must
    * LOSE to the plain part. */
  def buildEml(subject: String, from: String, date: String, text: String,
      encoding: String = "7bit", htmlAlt: Boolean = false): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    val subjEnc =
      if (subject.forall(c => c >= ' ' && c < 127)) subject
      else "=?UTF-8?B?" + java.util.Base64.getEncoder.encodeToString(
        subject.getBytes("UTF-8")) + "?="
    sb.append("From: ").append(from).append("\r\n")
    sb.append("To: corpus@example.org\r\n")
    sb.append("Subject: ").append(subjEnc).append("\r\n")
    sb.append("Date: ").append(date).append("\r\n")
    sb.append("MIME-Version: 1.0\r\n")
    def encodedBody(t: String): (String, String) = encoding match {
      case "base64" =>
        ("base64", java.util.Base64.getMimeEncoder(60,
          "\r\n".getBytes).encodeToString(t.getBytes("UTF-8")))
      case "quoted-printable" =>
        val b = t.getBytes("UTF-8")
        val enc = new java.lang.StringBuilder
        for (x <- b) {
          val c = x & 0xff
          if (c == '\n') enc.append("\r\n")
          else if (c >= 33 && c <= 126 && c != '=') enc.append(c.toChar)
          else if (c == ' ') enc.append(' ')
          else enc.append(f"=$c%02X")
        }
        ("quoted-printable", enc.toString)
      case _ =>
        // identity transfer: 7bit only if genuinely ASCII, else 8bit
        // (RFC 2045 §2.7); the ISO-8859-1 round-trip below is byte-
        // transparent, so UTF-8 body bytes survive the String carrier
        (if (t.forall(_ < 0x80)) "7bit" else "8bit",
          new String(t.replace("\n", "\r\n").getBytes("UTF-8"),
            "ISO-8859-1"))
    }
    if (htmlAlt) {
      val bnd = "----graftBoundary42"
      sb.append("Content-Type: multipart/alternative; boundary=\"")
        .append(bnd).append("\"\r\n\r\n")
      sb.append("preamble is not content\r\n")
      // alternative order: plain FIRST here; the html twin must lose
      val (encName, encBody) = encodedBody(text)
      sb.append("--").append(bnd).append("\r\n")
      sb.append("Content-Type: text/plain; charset=UTF-8\r\n")
      sb.append("Content-Transfer-Encoding: ").append(encName)
        .append("\r\n\r\n")
      sb.append(encBody).append("\r\n")
      sb.append("--").append(bnd).append("\r\n")
      sb.append("Content-Type: text/html; charset=UTF-8\r\n")
      sb.append("Content-Transfer-Encoding: 7bit\r\n\r\n")
      sb.append("<html><body><p>html decoy</p></body></html>\r\n")
      sb.append("--").append(bnd).append("--\r\n")
    } else {
      val (encName, encBody) = encodedBody(text)
      sb.append("Content-Type: text/plain; charset=UTF-8\r\n")
      sb.append("Content-Transfer-Encoding: ").append(encName)
        .append("\r\n\r\n")
      sb.append(encBody).append("\r\n")
    }
    sb.toString.getBytes("ISO-8859-1")
  }
}

/** `eml_parse(binary)` → `struct<subject string, from string, dt string,
  * text string>`; null when no RFC 5322 header block parses. */
case class EmlParse(child: Expression)
    extends BinaryCodecExpression("eml_parse", EmlParse.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val r = Emls.emlParse(payload.asInstanceOf[Array[Byte]])
    if (r == null) null
    else InternalRow(
      if (r._1 == null) null else UTF8String.fromString(r._1),
      if (r._2 == null) null else UTF8String.fromString(r._2),
      if (r._3 == null) null else UTF8String.fromString(r._3),
      if (r._4 == null) null else UTF8String.fromString(r._4))
  }

  override protected def withNewChildInternal(newChild: Expression): EmlParse =
    copy(child = newChild)
}

object EmlParse {
  val resultType: DataType = StructType(Seq(
    StructField("subject", StringType),
    StructField("from", StringType),
    StructField("dt", StringType),
    StructField("text", StringType)))

  def emlParse(media: Column): Column =
    GraftColumnShim.column(EmlParse(GraftColumnShim.expression(media)))
}
