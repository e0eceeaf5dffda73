package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free PDF STRUCTURE walk (ISO 32000 / the public Adobe PDF
  * Reference file layout): header version, cross-reference table, trailer,
  * and the Catalog → Pages chain that carries the page count. This is
  * container syntax only — no content-stream decode, no fonts — the same
  * triage depth as the ISO-BMFF/Matroska walks: enough to type, size, and
  * route a crawl's biggest document format without trusting its payload.
  *
  * The walk follows the spec's own discovery order, not heuristics:
  * `startxref` (scanned from the tail, like ZIP's EOCD) → the `xref`
  * table's object offsets → `trailer /Size /Root` → the Catalog object's
  * `/Pages` reference → that object's `/Count`. A `/Type /Page` substring
  * census would miscount (`/Pages` shares the prefix, and nested page
  * trees repeat); `/Count` on the root Pages node is the spec's number.
  * Null for anything that breaks on the way — truncated tails, dangling
  * xref offsets, non-PDF bytes — malformed input routes, never throws. */
object Pdfs {

  private val Ascii = java.nio.charset.StandardCharsets.ISO_8859_1

  /** Decode a bounded ASCII window starting at `at` (PDF structure tokens
    * are 7-bit; ISO-8859-1 keeps byte positions == char positions). */
  private def window(b: Array[Byte], at: Int, len: Int): String = {
    if (at < 0 || at >= b.length) return null
    new String(b, at, math.min(len, b.length - at), Ascii)
  }

  /** First integer after `key` inside `s`, or -1. A digit run longer than
    * 18 chars cannot be a valid offset/count/object number in any real PDF
    * (xref offsets are 10 digits) and would overflow Long — route to -1,
    * never throw (the never-throws contract of pdf_meta/pdf_text). */
  private def intAfter(s: String, key: String): Long = {
    val i = s.indexOf(key)
    if (i < 0) return -1L
    var j = i + key.length
    while (j < s.length && (s(j) == ' ' || s(j) == '\n' || s(j) == '\r')) j += 1
    val start = j
    while (j < s.length && s(j).isDigit) j += 1
    if (j == start || j - start > 18) -1L else s.substring(start, j).toLong
  }

  /** (version, n_objects, n_pages) or null. Outer guard: a standing
    * pdfTextStream query must survive ANY byte pattern, so like
    * FlacCodec.decode the whole walk null-routes on unexpected throws
    * (belt over the targeted digit-run bounds). */
  def pdfMeta(b: Array[Byte]): (String, Int, Int) =
    try pdfMetaImpl(b) catch { case scala.util.control.NonFatal(_) => null }

  private def pdfMetaImpl(b: Array[Byte]): (String, Int, Int) = {
    if (b == null || b.length < 32) return null
    // 1. header: %PDF-M.N
    val head = window(b, 0, 16)
    if (head == null || !head.startsWith("%PDF-")) return null
    val ver = head.drop(5).takeWhile(c => c.isDigit || c == '.')
    if (!ver.matches("\\d+\\.\\d+")) return null
    // 2-4. whichever cross-reference layout startxref points at, then the
    // trailer dict (classic `trailer` or the XRef stream's own dict)
    val xref = loadXref(b)
    if (xref == null) return null
    val size = intAfter(xref.trailer, "/Size")
    val root = intAfter(xref.trailer, "/Root")
    if (size <= 0 || root < 0) return null
    // 5. Catalog object → /Pages reference (may live inside an ObjStm)
    val cat = xref.objText(root.toInt, 256)
    if (cat == null || !cat.contains("/Type /Catalog")) return null
    val pagesRef = intAfter(cat, "/Pages")
    if (pagesRef < 0) return null
    // 6. Pages object → /Count
    val pg = xref.objText(pagesRef.toInt, 512)
    if (pg == null || !pg.contains("/Type /Pages")) return null
    val nPages = intAfter(pg, "/Count")
    if (nPages < 0) return null
    (ver, size.toInt, nPages.toInt)
  }

  /** Cross-reference data loaded once, BOTH layouts:
    *
    *  - the classic `xref` table + `trailer` dict (every PDF ≤ 1.4, and
    *    still common);
    *  - the PDF 1.5+ cross-reference STREAM (`/Type /XRef`): `/W` field
    *    widths, `/Index` subsections, FlateDecode with the PNG row
    *    predictors real writers emit (`/DecodeParms /Predictor 12`), and
    *    type-2 entries pointing into `/Type /ObjStm` OBJECT STREAMS —
    *    the layout where modern writers pack Catalog/Pages/Page/font
    *    dictionaries.
    *
    * `trailer` is the dict carrying /Size and /Root in either layout;
    * [[objText]] windows an object's text whether it sits at a byte
    * offset or inside an object stream (one bounded inflate per ObjStm,
    * cached for the walk); [[objOffset]] is the raw-offset view for
    * STREAM objects, which the spec keeps out of object streams. */
  private final class Xref(b: Array[Byte], val trailer: String,
      direct: scala.collection.Map[Int, Long],
      inStm: scala.collection.Map[Int, (Int, Int)],
      val revisions: Int = 1) {
    /** Standard-security-handler context when the trailer carries
      * /Encrypt and the empty user password opens it; null = plaintext
      * document. Set by [[loadXref]] after construction (the Encrypt
      * object must be resolved THROUGH this xref — the spec keeps it out
      * of object streams, so no decryption is needed to read it). */
    var crypto: PdfCrypto.Handler = null

    def objOffset(num: Int): Long = direct.getOrElse(num, -1L)
    def directEntries: Iterator[(Int, Long)] = direct.iterator
    def inStmEntries: Iterator[(Int, (Int, Int))] = inStm.iterator

    // per-walk ObjStm cache: (header pairs, inflated payload, /First)
    private val stmCache =
      scala.collection.mutable.HashMap[Int, (Array[(Int, Int)], Array[Byte], Int)]()

    private def loadStm(stmNum: Int): (Array[(Int, Int)], Array[Byte], Int) =
      stmCache.getOrElseUpdate(stmNum, {
        val at = objOffset(stmNum)
        if (at < 0 || at >= b.length) return null
        val w = window(b, at.toInt, 256)
        if (w == null) return null
        val dictEnd = w.indexOf(">>")
        if (dictEnd < 0 || !w.contains("/ObjStm")) return null
        val dict = w.substring(0, dictEnd)
        val n = intAfter(dict, "/N")
        val first = intAfter(dict, "/First")
        if (n <= 0 || n > 100000 || first <= 0) return null
        val payload = contentStream(b, this, stmNum)
        if (payload == null || first > payload.length) return null
        val header = new String(payload, 0, first.toInt, Ascii)
        val nums = "\\d+".r.findAllIn(header)
          .filter(_.length <= 9).map(_.toInt).toArray
        if (nums.length < 2 * n) return null
        val pairs = Array.tabulate(n.toInt)(i => (nums(2 * i), nums(2 * i + 1)))
        (pairs, payload, first.toInt)
      })

    /** The object's text: direct objects window the file; type-2 objects
      * extract their slice of the (cached) inflated object stream. Null
      * when unresolvable. */
    def objText(num: Int, maxLen: Int): String = {
      val off = objOffset(num)
      if (off >= 0 && off < b.length) return window(b, off.toInt, maxLen)
      inStm.get(num) match {
        case None => null
        case Some((stmNum, idx)) =>
          val stm = loadStm(stmNum)
          if (stm == null) return null
          val (pairs, payload, first) = stm
          if (idx < 0 || idx >= pairs.length || pairs(idx)._1 != num) return null
          val from = first + pairs(idx)._2
          val until = if (idx + 1 < pairs.length)
            math.min(first + pairs(idx + 1)._2, payload.length)
          else payload.length
          if (from < 0 || from > until) return null
          new String(payload, from, math.min(maxLen, until - from), Ascii)
      }
    }
  }

  /** Undo the PNG row predictor over fixed-width xref-stream rows
    * (bpp = 1; tag byte per row; Sub/Up/Average/Paeth per RFC 2083 —
    * writers overwhelmingly emit Up/2, but all five decode). Null on a
    * size mismatch. */
  private def unpredict(data: Array[Byte], rowLen: Int): Array[Byte] = {
    if (rowLen <= 0 || data.length % (rowLen + 1) != 0) return null
    val rows = data.length / (rowLen + 1)
    val out = new Array[Byte](rows * rowLen)
    var r = 0
    while (r < rows) {
      val tag = data(r * (rowLen + 1)) & 0xff
      var i = 0
      while (i < rowLen) {
        val raw = data(r * (rowLen + 1) + 1 + i) & 0xff
        val left = if (i > 0) out(r * rowLen + i - 1) & 0xff else 0
        val above = if (r > 0) out((r - 1) * rowLen + i) & 0xff else 0
        val upLeft = if (r > 0 && i > 0) out((r - 1) * rowLen + i - 1) & 0xff else 0
        val v = tag match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + above
          case 3 => raw + (left + above) / 2
          case 4 =>
            val p = left + above - upLeft
            val pa = math.abs(p - left); val pb = math.abs(p - above)
            val pc = math.abs(p - upLeft)
            raw + (if (pa <= pb && pa <= pc) left
                   else if (pb <= pc) above else upLeft)
          case _ => return null
        }
        out(r * rowLen + i) = (v & 0xff).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  /** Load the cross-reference `startxref` points at, then follow the
    * `/Prev` chain of an INCREMENTALLY UPDATED file (each edit/save
    * appends a new body + xref section pointing back at the previous
    * one — any PDF that was ever annotated, form-filled, or signed).
    * Sections merge newest-wins; the newest section's trailer rules.
    * The chain is bounded (32 hops) and cycle-proof: a /Prev loop is a
    * structural break, not a spin. */
  private def loadXref(b: Array[Byte]): Xref = {
    val tail = window(b, math.max(0, b.length - 1024), 1024)
    if (tail == null) return null
    val sx = tail.lastIndexOf("startxref")
    if (sx < 0) return null
    val first = intAfter(tail.substring(sx), "startxref")
    if (first < 0 || first >= b.length) return null
    val direct = scala.collection.mutable.HashMap[Int, Long]()
    val inStm = scala.collection.mutable.HashMap[Int, (Int, Int)]()
    var trailer: String = null
    val seen = scala.collection.mutable.HashSet[Long]()
    var off = first
    var hops = 0
    while (off >= 0) {
      if (off >= b.length || !seen.add(off) || hops >= 32) return null
      hops += 1
      val xr = window(b, off.toInt, 64)
      if (xr == null) return null
      val sec =
        if (xr.startsWith("xref")) loadClassicXref(b, off.toInt, xr)
        else loadXrefStream(b, off.toInt)
      if (sec == null) return null
      // newest-wins: only fill slots not already claimed by a newer section
      sec.directEntries.foreach { case (k, v) =>
        if (!direct.contains(k) && !inStm.contains(k)) direct(k) = v }
      sec.inStmEntries.foreach { case (k, v) =>
        if (!direct.contains(k) && !inStm.contains(k)) inStm(k) = v }
      if (trailer == null) trailer = sec.trailer
      off = intAfter(sec.trailer, "/Prev")
    }
    if (trailer == null) return null
    val xref = new Xref(b, trailer, direct, inStm, revisions = hops)
    // the NEWEST trailer rules encryption too; a document we cannot
    // decrypt (non-empty user password, V5/AES-256, malformed Encrypt
    // dict) routes WHOLE to null — the quarantine posture, never
    // wrong-bytes-downstream
    if (trailer.contains("/Encrypt")) {
      val h = encryptHandler(b, xref, trailer)
      if (h == null) return null
      xref.crypto = h
    }
    xref
  }

  /** Resolve the trailer's /Encrypt reference and build the standard
    * security handler for the EMPTY user password (ISO 32000 §7.6.3 —
    * the owner-restricted-but-openable class that dominates crawls).
    * Null when the dict is malformed, the scheme unsupported, or a real
    * user password is set. */
  private def encryptHandler(b: Array[Byte], xref: Xref,
      trailer: String): PdfCrypto.Handler = {
    val encRef = intAfter(trailer, "/Encrypt")
    if (encRef < 0 || encRef > Int.MaxValue) return null
    val ew = xref.objText(encRef.toInt, 2048)
    if (ew == null) return null
    val scanned = scanDict(ew)
    if (scanned == null) return null
    val (nums, strs, names) = scanned
    if (!names.get("Filter").contains("Standard")) return null
    val v = nums.getOrElse("V", 0L).toInt
    val r = nums.getOrElse("R", -1L).toInt
    val bits = nums.getOrElse("Length", 40L)
    if (bits < 0 || bits > 256) return null
    val p = nums.get("P") match {
      case Some(x) => x.toInt // int32; unsigned spellings wrap correctly
      case None => return null
    }
    // V5/R6 — AES-256, ISO 32000-2 (PDF 2.0): its own key unwrap, no
    // file ID, no per-object derivation
    if (v == 5 || r == 6) {
      if (v != 5 || r != 6) return null
      if (names.get("CFM").exists(_ != "AESV3")) return null
      return PdfCrypto.openV5EmptyPassword(
        strs.getOrElse("U", null), strs.getOrElse("UE", null))
    }
    val aes = v == 4 && names.get("CFM").contains("AESV2")
    // V4 crypt filters: only the two real-world CFMs (AESV2, V2=RC4)
    if (v == 4 && !aes && !names.get("CFM").contains("V2")) return null
    PdfCrypto.openWithEmptyPassword(v, r, bits.toInt,
      strs.getOrElse("O", null), strs.getOrElse("U", null), p,
      trailerId(trailer), aes,
      encryptMetadata = !names.get("EncryptMetadata").contains("false"))
  }

  /** First element of the trailer's /ID array (hex-string form — what
    * writers emit); empty when absent or unparseable (a legal, if
    * nonconforming, input to the key derivation). */
  private def trailerId(trailer: String): Array[Byte] = {
    "/ID\\s*\\[\\s*<([0-9A-Fa-f\\s]*)>".r.findFirstMatchIn(trailer) match {
      case None => Array.emptyByteArray
      case Some(m) =>
        val hex = m.group(1).filterNot(_.isWhitespace)
        if (hex.length % 2 != 0 || hex.isEmpty) Array.emptyByteArray
        else hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    }
  }

  /** Linear scan of one dictionary window (ISO-8859-1 chars == bytes):
    * number values, string values (literal with §7.3.4.2 escapes, or
    * hex), name values, and the booleans (as names), keyed by the
    * preceding name key. A linear walk CONSUMES string bodies, so binary
    * /O /U bytes can never fake a token a regex lookup would trip on.
    * Nested dicts flatten (their keys — /CFM — land in the same maps)
    * but the SHALLOWEST depth wins per key: a crypt-filter's
    * `/Length 16` (bytes) must never overwrite the top-level
    * `/Length 128` (bits) just because the writer emitted /CF after it.
    * Null on structural breaks. */
  private def scanDict(s: String): (Map[String, Long],
      Map[String, Array[Byte]], Map[String, String]) = {
    val start = s.indexOf("<<")
    if (start < 0) return null
    val nums = scala.collection.mutable.HashMap[String, Long]()
    val strs = scala.collection.mutable.HashMap[String, Array[Byte]]()
    val names = scala.collection.mutable.HashMap[String, String]()
    val depthOf = scala.collection.mutable.HashMap[String, Int]()
    var i = start + 2
    var depth = 1
    def wins(key: String): Boolean = {
      val keep = depthOf.get(key).forall(depth < _)
      if (keep) depthOf(key) = depth
      keep
    }
    def ws(c: Char) = c == ' ' || c == '\n' || c == '\r' || c == '\t'
    while (i < s.length && depth > 0) {
      val c = s(i)
      if (c == '>' && i + 1 < s.length && s(i + 1) == '>') { depth -= 1; i += 2 }
      else if (c == '<' && i + 1 < s.length && s(i + 1) == '<') { depth += 1; i += 2 }
      else if (c == '/') {
        var j = i + 1
        while (j < s.length && (s(j).isLetterOrDigit || s(j) == '.')) j += 1
        val key = s.substring(i + 1, j)
        var k = j
        while (k < s.length && ws(s(k))) k += 1
        if (k >= s.length) return null
        s(k) match {
          case '/' =>
            var m = k + 1
            while (m < s.length && (s(m).isLetterOrDigit || s(m) == '.')) m += 1
            if (wins(key)) names(key) = s.substring(k + 1, m)
            i = m
          case '(' =>
            val r = parseLiteralBytes(s, k)
            if (r == null) return null
            if (wins(key)) strs(key) = r._1
            i = r._2
          case '<' if k + 1 < s.length && s(k + 1) != '<' =>
            val e = s.indexOf('>', k + 1)
            if (e < 0) return null
            val hex = s.substring(k + 1, e).filterNot(ws)
            if (hex.isEmpty || hex.length % 2 != 0 ||
              !hex.forall(h => h.isDigit || (h >= 'a' && h <= 'f') ||
                (h >= 'A' && h <= 'F'))) return null
            if (wins(key)) strs(key) = hex.grouped(2)
              .map(Integer.parseInt(_, 16).toByte).toArray
            i = e + 1
          case d if d == '-' || d.isDigit =>
            var m = if (d == '-') k + 1 else k
            val ds = m
            while (m < s.length && s(m).isDigit) m += 1
            if (m == ds || m - ds > 18) return null
            if (wins(key)) nums(key) = s.substring(k, m).toLong
            i = m
          case 't' if s.startsWith("true", k) =>
            if (wins(key)) names(key) = "true"
            i = k + 4
          case 'f' if s.startsWith("false", k) =>
            if (wins(key)) names(key) = "false"
            i = k + 5
          case _ =>
            i = k // '<<' (nested dict), '[': structure handles it
        }
      }
      else i += 1
    }
    if (depth != 0) return null
    (nums.toMap, strs.toMap, names.toMap)
  }

  /** PDF literal string starting at `s(start) == '('` → (bytes, index
    * after the closing paren). Balanced nested parens, the §7.3.4.2
    * escapes, 1–3-digit octal; a backslash before any other char yields
    * that char. Null when unterminated. */
  private def parseLiteralBytes(s: String, start: Int): (Array[Byte], Int) = {
    val out = new java.io.ByteArrayOutputStream()
    var i = start + 1
    var depth = 1
    while (i < s.length) {
      s(i) match {
        case '\\' =>
          if (i + 1 >= s.length) return null
          s(i + 1) match {
            case 'n' => out.write('\n'); i += 2
            case 'r' => out.write('\r'); i += 2
            case 't' => out.write('\t'); i += 2
            case 'b' => out.write('\b'); i += 2
            case 'f' => out.write('\f'); i += 2
            case d if d >= '0' && d <= '7' =>
              var v = 0; var k = i + 1; var n = 0
              while (k < s.length && n < 3 && s(k) >= '0' && s(k) <= '7') {
                v = v * 8 + (s(k) - '0'); k += 1; n += 1
              }
              out.write(v & 0xff); i = k
            case other => out.write(other & 0xff); i += 2
          }
        case '(' => depth += 1; out.write('('); i += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return (out.toByteArray, i + 1)
          out.write(')'); i += 1
        case ch => out.write(ch & 0xff); i += 1
      }
    }
    null
  }

  private def loadClassicXref(b: Array[Byte], xrefOff: Int, xr: String): Xref = {
    var p = 4
    while (p < xr.length && (xr(p) == '\n' || xr(p) == '\r')) p += 1
    val hdrEnd = xr.indexOf('\n', p)
    if (hdrEnd < 0) return null
    val parts = xr.substring(p, hdrEnd).trim.split(" ")
    if (parts.length != 2 ||
      !parts.forall(s => s.nonEmpty && s.length <= 9 && s.forall(_.isDigit)))
      return null
    val first = parts(0).toInt
    val count = parts(1).toInt
    val entriesAt = xrefOff + hdrEnd + 1
    if (count <= 0 || entriesAt + 20L * count > b.length) return null
    val direct = scala.collection.mutable.HashMap[Int, Long]()
    var i = 0
    while (i < count) {
      val e = window(b, entriesAt + 20 * i, 20)
      if (e != null && e.length >= 18 && e(17) == 'n') {
        val off = e.substring(0, 10)
        if (off.forall(_.isDigit)) direct(first + i) = off.toLong
      } else if (e != null && e.length >= 18 && e(17) == 'f') {
        // a FREE entry claims its slot: in the /Prev merge a newer
        // revision's deletion must SHADOW the older body (serving it is
        // the classic redaction failure), not fall through to it
        direct(first + i) = -1L
      }
      i += 1
    }
    val tr0 = window(b, entriesAt + 20 * count, 256)
    if (tr0 == null || !tr0.startsWith("trailer")) return null
    // bound the trailer STRING at this section's own startxref: the raw
    // window otherwise reaches into whatever bytes follow — in an
    // incrementally updated file that's the NEXT appended body, whose
    // trailer's /Prev would read as this section's and fake a cycle
    val cut = tr0.indexOf("startxref")
    val tr = if (cut >= 0) tr0.substring(0, cut) else tr0
    new Xref(b, tr, direct, Map.empty)
  }

  /** PDF 1.5+ cross-reference stream: `N 0 obj << /Type /XRef /W [a b c]
    * /Size n [/Index [...]] [/Filter /FlateDecode] [/DecodeParms
    * << /Predictor p >>] >> stream ... endstream`. The stream dict IS the
    * trailer. Its own /Length must be direct (there is no xref yet to
    * resolve an indirect one — the same constraint real writers obey). */
  private def loadXrefStream(b: Array[Byte], at: Int): Xref = {
    val w = window(b, at, 512)
    if (w == null || !w.contains("/XRef")) return null
    // /DecodeParms nests a dict, so scan to the LAST ">>" before "stream"
    val sk = w.indexOf("stream")
    if (sk < 0) return null
    val dict = w.substring(0, w.lastIndexOf(">>", sk) match {
      case -1 => return null
      case d => d
    })
    val size = intAfter(dict, "/Size")
    if (size <= 0 || size > 10000000) return null
    val ws = "/W\\s*\\[\\s*(\\d+)\\s+(\\d+)\\s+(\\d+)\\s*\\]".r
      .findFirstMatchIn(dict).map(m =>
        (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt))
      .getOrElse(return null)
    val (w1, w2, w3) = ws
    if (w1 > 4 || w2 > 8 || w3 > 4 || w2 == 0) return null
    val len = intAfter(dict, "/Length")
    val flate = dict.contains("/FlateDecode")
    val predictor = {
      val p = intAfter(dict, "/Predictor")
      if (p < 0) 1 else p.toInt
    }
    var ds = at + sk + 6
    if (ds < b.length && b(ds) == '\r') ds += 1
    if (ds < b.length && b(ds) == '\n') ds += 1
    if (len <= 0 || ds + len > b.length) return null
    val raw = java.util.Arrays.copyOfRange(b, ds, ds + len.toInt)
    val inflated =
      if (!flate) raw
      else {
        val d = inflateBounded(raw, 1 << 26)
        if (d == null) return null
        d
      }
    val rowLen = w1 + w2 + w3
    val data =
      if (predictor >= 10) unpredict(inflated, rowLen)
      else if (predictor == 1) inflated
      else return null
    if (data == null || rowLen == 0 || data.length % rowLen != 0) return null
    // /Index: subsection (start, count) pairs; default [0 /Size]
    val index: Array[(Int, Int)] = {
      val m = "/Index\\s*\\[([0-9 \\r\\n]+)\\]".r.findFirstMatchIn(dict)
      m match {
        case None => Array((0, size.toInt))
        case Some(g) =>
          val ns = "\\d+".r.findAllIn(g.group(1))
            .filter(_.length <= 9).map(_.toInt).toArray
          if (ns.length % 2 != 0 || ns.isEmpty) return null
          Array.tabulate(ns.length / 2)(i => (ns(2 * i), ns(2 * i + 1)))
      }
    }
    if (index.map(_._2.toLong).sum != data.length / rowLen) return null
    val direct = scala.collection.mutable.HashMap[Int, Long]()
    val inStm = scala.collection.mutable.HashMap[Int, (Int, Int)]()
    var row = 0
    def field(row: Int, off: Int, width: Int): Long = {
      var v = 0L
      var i = 0
      while (i < width) { v = (v << 8) | (data(row * rowLen + off + i) & 0xff); i += 1 }
      v
    }
    for ((start, count) <- index; i <- 0 until count) {
      val num = start + i
      val t = if (w1 == 0) 1L else field(row, 0, w1)
      val f2 = field(row, w1, w2)
      val f3 = if (w3 == 0) 0L else field(row, w1 + w2, w3)
      t match {
        case 1L => if (f2 < b.length) direct(num) = f2
        case 2L => if (f2 <= Int.MaxValue && f3 <= Int.MaxValue)
          inStm(num) = (f2.toInt, f3.toInt)
        // type 0 (free) claims the slot so a newer revision's deletion
        // shadows an older body in the /Prev merge; unknown types skip
        case 0L => direct(num) = -1L
        case _ => ()
      }
      row += 1
    }
    new Xref(b, dict, direct, inStm)
  }

  /** Per-page extracted TEXT (ISO 32000 §9.4 text-showing operators), or
    * null for non-PDF / structurally broken input. The walk follows the
    * same spec-ordered chain as [[pdfMeta]] — startxref → xref → trailer →
    * Catalog → Pages — then per page resolves `/Contents`, decodes the
    * content stream (uncompressed, or `/FlateDecode` via the JDK
    * `Inflater` — the same public-codec stance as the PNG/DOCX paths),
    * and replays the text operators:
    *
    *  - `(…) Tj`, `(…) '`, `(…) "` and hex `<…>` strings show text;
    *    literal-string escapes (\\n \\r \\t \\b \\f \\( \\) \\\\ and
    *    1–3-digit octal) and nested balanced parens decode per §7.3.4.2;
    *  - `[…] TJ` concatenates its strings, inserting a space where an
    *    inter-element kern adjustment is ≤ −250 thousandths of an em
    *    (the standard extractor heuristic for a word gap);
    *  - positioning operators order the runs into lines: `Td`/`TD` with a
    *    nonzero ty, `T*`, `'`, `"` and a `Tm` that moves y start a new
    *    line; runs on one line concatenate in content-stream order.
    *
    * A page without `/Contents` yields "". String bytes decode through
    * the font selected by `Tf`, resolved from the page's inline
    * `/Resources /Font` dictionary:
    *
    *  - `/Encoding /WinAnsiEncoding` → the CP1252 byte map (ISO 32000
    *    Annex D.2; the WinAnsi-vs-CP1252 deltas are all in slots real
    *    writers leave unused); `/MacRomanEncoding` → the Mac OS Roman
    *    byte map (the JDK's x-MacRoman);
    *  - `/ToUnicode <n> 0 R` → the CMap stream's `bfchar`/`bfrange`
    *    mappings (increment AND array target forms; 1- or 2-byte codes,
    *    UTF-16BE targets, one-to-many allowed); unmapped codes read as
    *    U+FFFD;
    *  - no declaration → UTF-8 (the fixture-identity default).
    *
    * A page whose declared ToUnicode CMap is unresolvable routes the doc
    * to null (same stance as a broken content stream). */
  def pdfText(b: Array[Byte]): Array[String] =
    try pdfTextImpl(b) catch { case scala.util.control.NonFatal(_) => null }

  private def pdfTextImpl(b: Array[Byte]): Array[String] = {
    if (b == null || b.length < 32) return null
    val head = window(b, 0, 16)
    if (head == null || !head.startsWith("%PDF-")) return null
    val xref = loadXref(b)
    if (xref == null) return null
    val root = intAfter(xref.trailer, "/Root")
    if (root < 0) return null
    val cat = xref.objText(root.toInt, 256)
    if (cat == null || !cat.contains("/Type /Catalog")) return null
    val pagesRef = intAfter(cat, "/Pages")
    if (pagesRef < 0) return null
    val pagesWin = xref.objText(pagesRef.toInt, 16384)
    if (pagesWin == null || !pagesWin.contains("/Type /Pages")) return null
    val kidsAt = pagesWin.indexOf("/Kids")
    if (kidsAt < 0) return null
    val lb = pagesWin.indexOf('[', kidsAt)
    val rb = if (lb < 0) -1 else pagesWin.indexOf(']', lb)
    if (rb < 0) return null
    // an overlong object number (>9 digits) cannot resolve in any xref —
    // map it to -1 so the objOffset check below null-routes, never throws
    val kids = "(\\d+) 0 R".r
      .findAllMatchIn(pagesWin.substring(lb, rb))
      .map { m => val g = m.group(1); if (g.length > 9) -1 else g.toInt }
      .toArray
    if (kids.isEmpty) return null
    val out = new Array[String](kids.length)
    var i = 0
    while (i < kids.length) {
      val pw = xref.objText(kids(i), 1024)
      if (pw == null || !pw.contains("/Type /Page")) return null
      val fonts = pageFonts(b, xref, pw)
      if (fonts == null) return null // declared ToUnicode CMap unresolvable
      val cRef = intAfter(pw, "/Contents")
      out(i) = if (cRef < 0) "" else {
        val cs = contentStream(b, xref, cRef.toInt)
        if (cs == null) return null
        extractText(cs, fonts)
      }
      i += 1
    }
    out
  }

  private val Utf8Decoder: Array[Byte] => String =
    bs => new String(bs, java.nio.charset.StandardCharsets.UTF_8)

  private val WinAnsiDecoder: Array[Byte] => String =
    bs => new String(bs, java.nio.charset.Charset.forName("windows-1252"))

  private val MacRomanDecoder: Array[Byte] => String =
    bs => new String(bs, java.nio.charset.Charset.forName("x-MacRoman"))

  /** Resolve the page's `/Resources /Font` dict to per-font-name string
    * decoders. Empty map when the page declares no fonts (strings then
    * read as UTF-8); null when a declared ToUnicode CMap cannot be
    * resolved or parsed — a font promising a mapping we cannot honor must
    * route the doc, not silently emit wrong glyphs. */
  private def pageFonts(b: Array[Byte], xref: Xref,
      pw: String): Map[String, Array[Byte] => String] = {
    val fi = pw.indexOf("/Font")
    if (fi < 0) return Map.empty
    val lb = pw.indexOf("<<", fi + 5)
    val rb = if (lb < 0) -1 else pw.indexOf(">>", lb)
    if (rb < 0) return Map.empty
    val entries = "/(\\w+)\\s+(\\d+) 0 R".r
      .findAllMatchIn(pw.substring(lb + 2, rb)).toSeq
    val fonts = Map.newBuilder[String, Array[Byte] => String]
    for (m <- entries) {
      val name = m.group(1)
      val numS = m.group(2)
      if (numS.length > 9) return null
      val fwRaw = xref.objText(numS.toInt, 512)
      if (fwRaw == null) return null
      // bound at this dict's own close: the raw window reads past endobj
      // and a NEIGHBORING object's /WinAnsiEncoding or /ToUnicode token
      // would misclassify this font (silently wrong glyphs)
      val fwEnd = fwRaw.indexOf(">>")
      val fw = if (fwEnd < 0) fwRaw else fwRaw.substring(0, fwEnd + 2)
      val dec: Array[Byte] => String =
        if (fw.contains("/WinAnsiEncoding")) WinAnsiDecoder
        else if (fw.contains("/MacRomanEncoding")) MacRomanDecoder
        else {
          val tu = intAfter(fw, "/ToUnicode")
          if (tu < 0) Utf8Decoder
          else {
            val cmapBytes = contentStream(b, xref, tu.toInt)
            if (cmapBytes == null) return null
            val cm = parseCMap(cmapBytes)
            if (cm == null) return null
            cm
          }
        }
      fonts += name -> dec
    }
    fonts.result()
  }

  /** Parse a ToUnicode CMap stream (the `bfchar`/`bfrange` sections of
    * Adobe's CMap syntax): source codes are 1- or 2-byte (taken from the
    * widest source token seen), targets are UTF-16BE and may expand to
    * multiple characters (a `bfchar` ligature mapping). Null when the
    * stream carries no mappings at all — a declared-but-empty CMap is a
    * structural break, not an identity encoding. */
  private[graft] def parseCMap(cs: Array[Byte]): Array[Byte] => String = {
    val s = new String(cs, Ascii)
    def hexBytes(h: String): Array[Byte] =
      h.grouped(2).map(p => Integer.parseInt(p, 16).toByte).toArray
    def utf16(h: String): String =
      new String(hexBytes(h), java.nio.charset.StandardCharsets.UTF_16BE)
    val map = scala.collection.mutable.HashMap[Int, String]()
    var codeBytes = 1
    def noteWidth(srcHex: String): Unit =
      if (srcHex.length > 2) codeBytes = 2
    for (sec <- "(?s)beginbfchar(.*?)endbfchar".r.findAllMatchIn(s);
         m <- "<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>".r
           .findAllMatchIn(sec.group(1))) {
      noteWidth(m.group(1))
      map(Integer.parseInt(m.group(1), 16)) = utf16(m.group(2))
    }
    // increment form: <lo> <hi> <dstStart>. Array groups are replaced by a
    // lone "]" first, so neither their bracket contents nor a <lo> <hi>
    // pair straddling an erased array can be misread as increment triples
    // (the triple regex admits only whitespace between its tokens).
    for (sec <- "(?s)beginbfrange(.*?)endbfrange".r.findAllMatchIn(s);
         m <- "<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>".r
           .findAllMatchIn(sec.group(1).replaceAll("\\[[^\\]]*\\]", " ] "))) {
      noteWidth(m.group(1))
      val lo = Integer.parseInt(m.group(1), 16)
      val hi = Integer.parseInt(m.group(2), 16)
      val d0 = Integer.parseInt(m.group(3), 16)
      if (hi < lo || hi - lo > 0xffff || m.group(3).length > 4) return null
      var c = lo
      while (c <= hi) { map(c) = new String(Character.toChars(d0 + (c - lo))); c += 1 }
    }
    // bfrange ARRAY form: <lo> <hi> [<d1> <d2> ...] — one explicit target
    // per code, each a full UTF-16BE string (ligatures allowed)
    for (sec <- "(?s)beginbfrange(.*?)endbfrange".r.findAllMatchIn(s);
         m <- "<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>\\s*\\[([^\\]]*)\\]".r
           .findAllMatchIn(sec.group(1))) {
      noteWidth(m.group(1))
      val lo = Integer.parseInt(m.group(1), 16)
      val hi = Integer.parseInt(m.group(2), 16)
      val dsts = "<([0-9A-Fa-f]+)>".r.findAllMatchIn(m.group(3))
        .map(_.group(1)).toArray
      if (hi < lo || dsts.length != hi - lo + 1) return null
      var c = lo
      while (c <= hi) { map(c) = utf16(dsts(c - lo)); c += 1 }
    }
    if (map.isEmpty) return null
    val width = codeBytes
    val table = map.toMap
    bs => {
      val sb = new java.lang.StringBuilder(bs.length)
      var i = 0
      while (i + width <= bs.length) {
        val code =
          if (width == 1) bs(i) & 0xff
          else ((bs(i) & 0xff) << 8) | (bs(i + 1) & 0xff)
        sb.append(table.getOrElse(code, "�"))
        i += width
      }
      sb.toString
    }
  }

  /** `/Length` of a stream dict, resolving the common indirect form
    * `/Length <num> <gen> R` (the writer didn't know the stream size when
    * it emitted the dict — most real-world PDFs) by following the xref to
    * the integer object. -1 on any structural break; a misread direct
    * parse of an indirect ref (e.g. 12 from `12 0 R`) would silently
    * truncate the stream, so the indirect form MUST be detected first. */
  private def lengthOf(b: Array[Byte], xref: Xref, dict: String): Long = {
    def ws(c: Char): Boolean = c == ' ' || c == '\n' || c == '\r'
    val i = dict.indexOf("/Length")
    if (i < 0) return -1L
    var j = i + 7
    while (j < dict.length && ws(dict(j))) j += 1
    val numStart = j
    while (j < dict.length && dict(j).isDigit) j += 1
    if (j == numStart || j - numStart > 18) return -1L
    val first = dict.substring(numStart, j).toLong
    // lookahead for "<gen> R" — whitespace, digits, whitespace, 'R'
    var k = j
    while (k < dict.length && ws(dict(k))) k += 1
    val genStart = k
    while (k < dict.length && dict(k).isDigit) k += 1
    val hasGen = k > genStart && k - genStart <= 9
    var r = k
    while (r < dict.length && ws(dict(r))) r += 1
    if (!(hasGen && r < dict.length && dict(r) == 'R')) return first // direct
    // indirect: resolve the integer object `first 0 obj ... N ... endobj`
    if (first > Int.MaxValue) return -1L
    val at = xref.objOffset(first.toInt)
    if (at < 0 || at >= b.length) return -1L
    val w = window(b, at.toInt, 64)
    if (w == null) return -1L
    val ok = w.indexOf("obj")
    if (ok < 0) return -1L
    intAfter(w.substring(ok + 3), "")
  }

  /** Resolve + decode one content-stream object: dict `/Length` bounds the
    * raw data, `/Filter /FlateDecode` inflates it (Inflater ALWAYS ends —
    * an unclosed JDK inflater is native-memory pressure at scale). Null on
    * any structural or codec break. */
  private def contentStream(b: Array[Byte], xref: Xref, num: Int): Array[Byte] = {
    val at = xref.objOffset(num)
    if (at < 0 || at >= b.length) return null
    val w = window(b, at.toInt, 256)
    if (w == null) return null
    val dictEnd = w.indexOf(">>")
    if (dictEnd < 0) return null
    val dict = w.substring(0, dictEnd)
    val len = lengthOf(b, xref, dict)
    val flate = dict.contains("/FlateDecode")
    val sk = w.indexOf("stream", dictEnd)
    if (sk < 0) return null
    var ds = at.toInt + sk + 6
    if (ds < b.length && b(ds) == '\r') ds += 1
    if (ds < b.length && b(ds) == '\n') ds += 1
    if (len < 0 || ds + len > b.length) return null
    val enc = java.util.Arrays.copyOfRange(b, ds, ds + len.toInt)
    // encryption wraps the COMPRESSED bytes (applied last on write), so
    // decrypt before inflating. The per-object key mixes the GENERATION
    // (Algorithm 1) — read it from the object header itself ("num gen
    // obj"), because this xref drops generations: an incrementally
    // updated object at gen>0 decrypted with gen 0 would hand garbage
    // downstream on the raw (non-flate) path, where no inflate step
    // exists to catch the wrong key.
    val raw =
      if (xref.crypto == null) enc
      else {
        val gm = java.util.regex.Pattern
          .compile("^\\s*\\d+\\s+(\\d{1,5})\\s+obj").matcher(w)
        val gen = if (gm.find()) gm.group(1).toInt else 0
        xref.crypto.decrypt(num, gen, enc)
      }
    if (raw == null) return null
    // 64 MiB bound: a page content stream past this size is hostile or
    // broken either way — null-route, never OOM
    if (!flate) raw else inflateBounded(raw, 1 << 26)
  }

  /** Test hook: the operator replay over a raw content stream (fixture
    * builders never emit some spec-legal shapes — non-TJ arrays, hex
    * strings, the star and Tm moves — so their handling is pinned
    * directly). */
  private[graft] def extractTextForTest(cs: Array[Byte]): String =
    extractText(cs, Map.empty)

  /** Replay text-showing + text-positioning operators of one decoded
    * content stream (see [[pdfText]] for the semantics). String bytes
    * stay RAW until an operator shows them; the decoder then in force is
    * the `Tf`-selected font's (UTF-8 when the page declares none). */
  private def extractText(cs: Array[Byte],
      fonts: Map[String, Array[Byte] => String]): String = {
    val out = new java.lang.StringBuilder()
    var pendingNl = false
    var decoder: Array[Byte] => String = Utf8Decoder
    def showDecoded(s: String): Unit = {
      if (pendingNl && out.length() > 0) out.append('\n')
      pendingNl = false
      out.append(s)
    }
    def show(s: Array[Byte]): Unit =
      if (s != null) showDecoded(decoder(s))
    def newLine(): Unit = pendingNl = true
    // operand state: trailing numbers (for Td/TD/Tm), last string, TJ
    // array, last name token (for Tf)
    val nums = new scala.collection.mutable.ArrayBuffer[Double](8)
    var lastStr: Array[Byte] = null
    var lastName: String = null
    var arr: scala.collection.mutable.ArrayBuffer[AnyRef] = null
    var lastY = Double.NaN
    val n = cs.length
    var i = 0

    def parseLiteral(start: Int): (Array[Byte], Int) = {
      val buf = new java.io.ByteArrayOutputStream()
      var j = start
      var depth = 1
      while (j < n && depth > 0) {
        val c = cs(j) & 0xff
        if (c == '\\' && j + 1 < n) {
          val e = cs(j + 1) & 0xff
          e match {
            case 'n' => buf.write(0x0a); j += 2
            case 'r' => buf.write(0x0d); j += 2
            case 't' => buf.write(0x09); j += 2
            case 'b' => buf.write(0x08); j += 2
            case 'f' => buf.write(0x0c); j += 2
            case '(' | ')' | '\\' => buf.write(e); j += 2
            case '\r' => j += 2; if (j < n && cs(j) == '\n') j += 1 // line cont.
            case '\n' => j += 2
            case d if d >= '0' && d <= '7' =>
              var v = 0; var k = 0; j += 1
              while (k < 3 && j < n && cs(j) >= '0' && cs(j) <= '7') {
                v = v * 8 + (cs(j) - '0'); j += 1; k += 1
              }
              buf.write(v & 0xff)
            case _ => buf.write(e); j += 2
          }
        } else if (c == '(') { depth += 1; buf.write(c); j += 1 }
        else if (c == ')') {
          depth -= 1; if (depth > 0) buf.write(c); j += 1
        } else if (c == '\r') { // EOL in a string reads as LF (§7.3.4.2)
          buf.write(0x0a); j += 1; if (j < n && cs(j) == '\n') j += 1
        } else { buf.write(c); j += 1 }
      }
      (buf.toByteArray, j)
    }

    def parseHex(start: Int): (Array[Byte], Int) = {
      val buf = new java.io.ByteArrayOutputStream()
      var j = start
      var hi = -1
      while (j < n && cs(j) != '>') {
        val c = cs(j) & 0xff
        val d = Character.digit(c, 16)
        if (d >= 0) {
          if (hi < 0) hi = d
          else { buf.write((hi << 4) | d); hi = -1 }
        }
        j += 1
      }
      if (hi >= 0) buf.write(hi << 4) // odd count: final digit pads with 0
      (buf.toByteArray, if (j < n) j + 1 else j)
    }

    def flushShownString(s: Array[Byte]): Unit =
      if (arr != null) arr += s else lastStr = s

    while (i < n) {
      val c = cs(i) & 0xff
      if (c == '(') {
        val (s, j) = parseLiteral(i + 1); flushShownString(s); i = j
      } else if (c == '<' && i + 1 < n && cs(i + 1) == '<') {
        // inline dictionary (BDC property lists etc.): skip balanced << >>
        var depth = 1; var j = i + 2
        while (j + 1 < n && depth > 0) {
          if (cs(j) == '<' && cs(j + 1) == '<') { depth += 1; j += 2 }
          else if (cs(j) == '>' && cs(j + 1) == '>') { depth -= 1; j += 2 }
          else j += 1
        }
        i = j
      } else if (c == '<') {
        val (s, j) = parseHex(i + 1); flushShownString(s); i = j
      } else if (c == '[') { arr = new scala.collection.mutable.ArrayBuffer[AnyRef](8); i += 1 }
      else if (c == ']') { i += 1 } // array closes; TJ consumes `arr`
      else if (c == '%') { while (i < n && cs(i) != '\n' && cs(i) != '\r') i += 1 }
      else if (c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        val start = i
        i += 1
        while (i < n && { val d = cs(i) & 0xff; d == '.' || (d >= '0' && d <= '9') }) i += 1
        val v = try new String(cs, start, i - start,
          java.nio.charset.StandardCharsets.ISO_8859_1).toDouble
        catch { case _: NumberFormatException => Double.NaN }
        if (!v.isNaN) {
          if (arr != null) arr += java.lang.Double.valueOf(v) else nums += v
        }
      } else if (c == '/' || Character.isLetter(c) || c == '\'' || c == '"' || c == '*') {
        val start = i
        i += 1
        if (c != '\'' && c != '"') {
          while (i < n && { val d = cs(i) & 0xff
            Character.isLetterOrDigit(d) || d == '*' || d == '\'' || d == '"' }) i += 1
        }
        val op = new String(cs, start, i - start,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        if (op.startsWith("/")) {
          // a name token is an OPERAND (kept for Tf), not an operator —
          // it must not clear the other pending operands
          lastName = op.substring(1)
        } else {
        op match {
          case "Tj" => show(lastStr); lastStr = null
          case "TJ" =>
            if (arr != null) {
              val sb = new java.lang.StringBuilder()
              arr.foreach {
                case s: Array[Byte] => sb.append(decoder(s))
                case d: java.lang.Double =>
                  if (d.doubleValue() <= -250.0) sb.append(' ')
                case _ => ()
              }
              showDecoded(sb.toString)
            }
          case "Td" | "TD" =>
            if (nums.length >= 2 && nums.last != 0.0) newLine()
          case "T*" => newLine()
          case "Tm" =>
            if (nums.length >= 6) {
              val y = nums(nums.length - 1)
              if (!lastY.isNaN && y != lastY) newLine()
              lastY = y
            }
          case "'" => newLine(); show(lastStr); lastStr = null
          case "\"" => newLine(); show(lastStr); lastStr = null
          case "Tf" =>
            if (lastName != null)
              decoder = fonts.getOrElse(lastName, Utf8Decoder)
          case "BT" => lastY = Double.NaN
          case _ => ()
        }
        // EVERY operator consumes its operands — including a non-TJ array
        // (`[2 4] 0 d`): a stale `arr` would otherwise swallow all later
        // strings on the page and divert Td/TD operands
        nums.clear()
        arr = null
        lastName = null
        }
      } else i += 1
    }
    out.toString
  }

  /** A text-bearing single-xref PDF: Catalog(1) → Pages(2) → one Page +
    * one content stream per entry of `pages`. Each page renders a
    * `p<k> of <K>` header as a kerned TJ array (−600 em-milli gaps ⇒
    * extractor word spaces), then the page text in 50-char lines — `Tj`
    * literals on even pages, split-in-two `TJ` arrays (−100 kern ⇒ no
    * space) on odd pages — every line preceded by a `0 −14 TD` move.
    * `flate` wraps each content stream in FlateDecode. The extraction
    * round-trip is therefore `p<k> of <K>` + '\n' + the 50-char-wrapped
    * page text, which an oracle can recompute with string functions. */
  /** Bounded inflate: null on truncation/garbage/overrun — the single
    * decompression-bomb defense shared by content streams and xref
    * streams. The Inflater ALWAYS ends (native-memory pressure). */
  private def inflateBounded(raw: Array[Byte], max: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(raw)
      val buf = new java.io.ByteArrayOutputStream(
        math.min(math.max(raw.length * 4, 1 << 10), 1 << 20))
      val chunk = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(chunk)
        if (n == 0 && !inf.finished()) return null // truncated/needs-dict
        buf.write(chunk, 0, n)
        if (buf.size() > max) return null
      }
      buf.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException => null
    } finally inf.end()
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(raw); d.finish()
      val outB = new java.io.ByteArrayOutputStream(raw.length)
      val chunk = new Array[Byte](8192)
      while (!d.finished()) outB.write(chunk, 0, d.deflate(chunk))
      outB.toByteArray
    } finally d.end()
  }

  /** How many REVISIONS (xref sections) the file carries: 1 for a
    * single-save document, +1 per incremental update — the provenance
    * signal a curation pipeline uses to spot edited/annotated/signed
    * documents (a multi-revision PDF may contain residual content from
    * EVERY prior save, a well-known redaction failure mode). Walks the
    * same bounded /Prev chain as the extractors; -1 for non-PDF or a
    * broken chain. */
  def pdfRevisions(b: Array[Byte]): Int =
    try {
      if (b == null || b.length < 32) return -1
      val head = window(b, 0, 16)
      if (head == null || !head.startsWith("%PDF-")) return -1
      val x = loadXref(b)
      if (x == null) -1 else x.revisions
    } catch { case scala.util.control.NonFatal(_) => -1 }

  /** One page's content stream (header `p<i+1> of <total>` + 50-char
    * lines; `Tj` on even page indexes, split `TJ` on odd — the classic
    * builder's contract). */
  private def textPageStream(pg: String, i: Int, total: Int,
      flate: Boolean): Array[Byte] = {
    def esc(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length + 8)
      s.foreach {
        case '\\' => sb.append("\\\\")
        case '(' => sb.append("\\(")
        case ')' => sb.append("\\)")
        case '\n' => sb.append("\\012")
        case '\r' => sb.append("\\015")
        case '\t' => sb.append("\\011")
        case c => sb.append(c)
      }
      sb.toString
    }
    val ops = new java.lang.StringBuilder()
    ops.append("BT\n/F1 12 Tf\n72 720 Td\n")
    ops.append(s"[(p${i + 1}) -600 (of) -600 ($total)] TJ\n")
    var p = 0
    while (p < pg.length) {
      val line = pg.substring(p, math.min(pg.length, p + 50))
      ops.append("0 -14 TD\n")
      if (i % 2 == 0) ops.append(s"(${esc(line)}) Tj\n")
      else {
        val m = line.length / 2
        ops.append(s"[(${esc(line.substring(0, m))}) -100 " +
          s"(${esc(line.substring(m))})] TJ\n")
      }
      p += 50
    }
    ops.append("ET\n")
    val raw = ops.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (!flate) raw else deflate(raw)
  }

  /** The per-page content streams shared by the classic and modern
    * builders (identical text ops ⇒ identical extraction, whatever the
    * container layout). */
  private def textPageStreams(pages: Seq[String],
      flate: Boolean): Seq[Array[Byte]] =
    pages.zipWithIndex.map { case (pg, i) =>
      textPageStream(pg, i, pages.length, flate)
    }

  /** An INCREMENTAL UPDATE appended to a [[buildPdfWithText]] document
    * (ISO 32000 §7.5.6): re-render page `pageIndex`'s content stream with
    * `newText`, append it as a new body reusing the ORIGINAL object
    * number, and chain a one-entry xref section whose trailer carries
    * `/Prev` back to the previous section — the layout every
    * edited/annotated/signed PDF in a crawl has. Readers must resolve
    * the newest offset for the updated object and the /Prev chain for
    * everything else. */
  def appendPdfUpdate(base: Array[Byte], pageIndex: Int,
      newText: String, flate: Boolean): Array[Byte] = {
    val s = new String(base, Ascii)
    val k = "/Count (\\d+)".r.findFirstMatchIn(s)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException("no /Count in base"))
    require(pageIndex >= 0 && pageIndex < k, s"page $pageIndex of $k")
    val sx = s.lastIndexOf("startxref")
    require(sx >= 0, "no startxref in base")
    val prevOff = intAfter(s.substring(sx), "startxref")
    val tr = s.lastIndexOf("trailer")
    require(tr >= 0, "no classic trailer in base (classic layout only)")
    val size = intAfter(s.substring(tr), "/Size")
    val root = intAfter(s.substring(tr), "/Root")
    val objNum = k + 3 + pageIndex // the classic builder's content object
    val stream = textPageStream(newText, pageIndex, k, flate)
    val out = new java.io.ByteArrayOutputStream()
    out.write(base)
    def w(x: String): Unit = out.write(x.getBytes(Ascii))
    val objAt = out.size()
    val filter = if (flate) " /Filter /FlateDecode" else ""
    w(s"$objNum 0 obj\n<< /Length ${stream.length}$filter >>\nstream\n")
    out.write(stream)
    w("\nendstream\nendobj\n")
    val xrefAt = out.size()
    w(s"xref\n$objNum 1\n")
    w(f"$objAt%010d 00000 n \n")
    w(s"trailer\n<< /Size $size /Root $root 0 R /Prev $prevOff >>\n")
    w(s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  /** [[buildPdfWithText]]'s document under the STANDARD SECURITY HANDLER
    * (ISO 32000 §7.6.3): every content stream encrypted with its
    * per-object key, an /Encrypt dictionary object, and the /ID the key
    * derivation hashes (deterministic — MD5 of the page text — so
    * fixtures hash stably). `mode`: "rc4-40" (V1/R2), "rc4-128" (V2/R3),
    * "aes-128" (V4/R4 /CFM /AESV2), "aes-256" (V5/R6 /CFM /AESV3 —
    * PDF 2.0's scheme: Algorithm-2.B password hashes, the /UE-wrapped
    * 256-bit file key, the file key used directly per object). An empty
    * `userPwd` builds the
    * owner-restricted-but-openable document every reader silently opens;
    * a non-empty one builds the password-protected arm extractors must
    * QUARANTINE (null), never misdecrypt. */
  def buildPdfEncrypted(pages: Seq[String], flate: Boolean, mode: String,
      userPwd: String = "", literalOU: Boolean = false,
      encryptMetadata: Boolean = true): Array[Byte] = {
    require(pages.nonEmpty)
    val (v, r, bits, aes) = mode match {
      case "rc4-40" => (1, 2, 40, false)
      case "rc4-128" => (2, 3, 128, false)
      case "aes-128" => (4, 4, 128, true)
      case "aes-256" => (5, 6, 256, true)
      case other => throw new IllegalArgumentException(s"mode $other")
    }
    val perm = -44 // print allowed, modify denied — a typical owner mask
    val pagesUtf = pages.mkString("")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val id = java.security.MessageDigest.getInstance("MD5").digest(pagesUtf)
    val pwd = userPwd.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ownerPwd = "owner".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // V<=4: Algorithm 2/3/4/5 (/O, MD5 file key, /U). V5/R6: a 256-bit
    // file key (content-derived here so fixtures hash stably; real
    // writers draw it random) wrapped per password via Algorithm 2.B.
    val (o, u, oe, ue, key) =
      if (v < 5) {
        val n = if (r == 2) 5 else bits / 8
        val o0 = PdfCrypto.computeO(ownerPwd, pwd, r, n)
        val k0 = PdfCrypto.fileKey(pwd, o0, perm, id, r, n, encryptMetadata)
        (o0, PdfCrypto.computeU(k0, id, r),
          null: Array[Byte], null: Array[Byte], k0)
      } else {
        val fileKey = java.security.MessageDigest.getInstance("SHA-256")
          .digest("filekey".getBytes ++ pagesUtf)
        val salts = java.security.MessageDigest.getInstance("SHA-256")
          .digest("salts".getBytes ++ pagesUtf)
        val (u5, ue5, o5, oe5) =
          PdfCrypto.computeV5(fileKey, pwd, ownerPwd, salts)
        (o5, u5, oe5, ue5, fileKey)
      }
    val handler = new PdfCrypto.Handler(key, aes, v5 = v == 5)
    def hex(bs: Array[Byte]): String = bs.map(x => f"${x & 0xff}%02x").mkString

    val k = pages.length
    val streams = textPageStreams(pages, flate)
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(Ascii))
    val nObj = 3 + 2 * k // catalog, pages, k pages, k contents, encrypt
    val offsets = new Array[Long](nObj + 1)
    w(if (v == 5) "%PDF-2.0\n" else "%PDF-1.6\n")
    offsets(1) = out.size()
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    offsets(2) = out.size()
    val kids = (0 until k).map(i => s"${i + 3} 0 R").mkString(" ")
    w(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $k >>\nendobj\n")
    var i = 0
    while (i < k) {
      offsets(i + 3) = out.size()
      w(s"${i + 3} 0 obj\n<< /Type /Page /Parent 2 0 R " +
        s"/MediaBox [0 0 612 792] /Contents ${k + 3 + i} 0 R >>\nendobj\n")
      i += 1
    }
    i = 0
    while (i < k) {
      val num = k + 3 + i
      offsets(num) = out.size()
      val enc = handler.encrypt(num, 0, streams(i))
      val filter = if (flate) " /Filter /FlateDecode" else ""
      w(s"$num 0 obj\n<< /Length ${enc.length}$filter >>\nstream\n")
      out.write(enc)
      w("\nendstream\nendobj\n")
      i += 1
    }
    val encNum = nObj
    offsets(encNum) = out.size()
    val cf =
      if (v == 4)
        // the crypt-filter /Length 16 is BYTES (real writers emit it) —
        // a flattening dict scan that lets it shadow the top-level
        // /Length 128 (bits) mis-rejects the document
        " /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >>" +
          " >> /StmF /StdCF /StrF /StdCF"
      else if (v == 5)
        " /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >>" +
          " /StmF /StdCF /StrF /StdCF"
      else ""
    val lenEntry = if (v == 1) "" else s" /Length $bits"
    // literalOU exercises the §7.3.4.2 escaped-literal form most real
    // writers use for /O /U (every non-printable byte as 3-digit octal)
    def litEsc(bs: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(bs.length * 4)
      for (x <- bs) {
        val c = x & 0xff
        if (c == '(' || c == ')' || c == '\\') { sb.append('\\'); sb.append(c.toChar) }
        else if (c < 32 || c > 126) sb.append(f"\\$c%03o")
        else sb.append(c.toChar)
      }
      sb.toString
    }
    def str(bs: Array[Byte]): String =
      if (literalOU) s"(${litEsc(bs)})" else s"<${hex(bs)}>"
    // V5 adds the wrapped-key strings and the encrypted permissions
    // block (AES-256-ECB of P ‖ 0xFF×4 ‖ 'T' ‖ "adb" ‖ zeros — readers
    // MAY verify it against /P)
    val v5Entries =
      if (v != 5) ""
      else {
        val pb = new Array[Byte](16)
        pb(0) = (perm & 0xff).toByte; pb(1) = ((perm >> 8) & 0xff).toByte
        pb(2) = ((perm >> 16) & 0xff).toByte
        pb(3) = ((perm >> 24) & 0xff).toByte
        pb(4) = -1; pb(5) = -1; pb(6) = -1; pb(7) = -1
        pb(8) = 'T'; pb(9) = 'a'; pb(10) = 'd'; pb(11) = 'b'
        val c = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
        c.init(javax.crypto.Cipher.ENCRYPT_MODE,
          new javax.crypto.spec.SecretKeySpec(key, "AES"))
        s" /OE ${str(oe)} /UE ${str(ue)} /Perms <${hex(c.doFinal(pb))}>"
      }
    val emEntry =
      if (encryptMetadata) "" else " /EncryptMetadata false"
    w(s"$encNum 0 obj\n<< /Filter /Standard /V $v /R $r$lenEntry$cf" +
      s"$emEntry /P $perm /O ${str(o)} /U ${str(u)}$v5Entries >>\nendobj\n")
    val xrefAt = out.size()
    w(s"xref\n0 ${nObj + 1}\n")
    w("0000000000 65535 f \n")
    var j = 1
    while (j <= nObj) {
      w(f"${offsets(j)}%010d 00000 n \n")
      j += 1
    }
    w(s"trailer\n<< /Size ${nObj + 1} /Root 1 0 R /Encrypt $encNum 0 R" +
      s" /ID [<${hex(id)}> <${hex(id)}>] >>\n")
    w(s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  def buildPdfWithText(pages: Seq[String], flate: Boolean): Array[Byte] = {
    require(pages.nonEmpty)
    val k = pages.length
    val streams = textPageStreams(pages, flate)
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(Ascii))
    val nObj = 2 + 2 * k
    val offsets = new Array[Long](nObj + 1)
    w("%PDF-1.7\n")
    offsets(1) = out.size()
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    offsets(2) = out.size()
    val kids = (0 until k).map(i => s"${i + 3} 0 R").mkString(" ")
    w(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $k >>\nendobj\n")
    var i = 0
    while (i < k) {
      offsets(i + 3) = out.size()
      w(s"${i + 3} 0 obj\n<< /Type /Page /Parent 2 0 R " +
        s"/MediaBox [0 0 612 792] /Contents ${k + 3 + i} 0 R >>\nendobj\n")
      i += 1
    }
    i = 0
    while (i < k) {
      offsets(k + 3 + i) = out.size()
      val filter = if (flate) " /Filter /FlateDecode" else ""
      w(s"${k + 3 + i} 0 obj\n<< /Length ${streams(i).length}$filter >>\nstream\n")
      out.write(streams(i))
      w("\nendstream\nendobj\n")
      i += 1
    }
    val xrefAt = out.size()
    w(s"xref\n0 ${nObj + 1}\n")
    w("0000000000 65535 f \n")
    var j = 1
    while (j <= nObj) {
      w(f"${offsets(j)}%010d 00000 n \n")
      j += 1
    }
    w(s"trailer\n<< /Size ${nObj + 1} /Root 1 0 R >>\n")
    w(s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  /** The MODERN (PDF 1.5+) container layout around the SAME text content
    * as [[buildPdfWithText]] — extraction of the two must be identical:
    *
    *  - content streams stay top-level (the spec keeps streams out of
    *    object streams): objects 1..k;
    *  - Catalog, Pages, and every Page dict pack into ONE `/Type /ObjStm`
    *    object stream (object k+1; FlateDecoded when `flate`);
    *  - the cross-reference is a `/Type /XRef` STREAM (object 2k+4) with
    *    `/W [1 3 1]`, FlateDecode, and `/DecodeParms /Predictor 12` —
    *    the PNG Up row predictor virtually every real writer emits.
    *
    * This is what a 2010s-era PDF off a crawl actually looks like; the
    * classic builder's layout died with Acrobat 6. */
  def buildPdfModern(pages: Seq[String], flate: Boolean): Array[Byte] = {
    require(pages.nonEmpty)
    val k = pages.length
    val streams = textPageStreams(pages, flate)
    // object numbers: 1..k content, k+1 ObjStm, k+2 Catalog, k+3 Pages,
    // k+4..2k+3 Page dicts, 2k+4 the XRef stream itself
    val objStmNum = k + 1
    val catNum = k + 2
    val pagesNum = k + 3
    val xrefNum = 2 * k + 4
    val nSize = 2 * k + 5
    // the ObjStm payload: header of (objnum offset) pairs, then bodies
    val bodies: Seq[(Int, String)] =
      Seq(catNum -> s"<< /Type /Catalog /Pages $pagesNum 0 R >>",
        pagesNum -> (s"<< /Type /Pages /Kids [" +
          (0 until k).map(i => s"${k + 4 + i} 0 R").mkString(" ") +
          s"] /Count $k >>")) ++
      (0 until k).map(i => (k + 4 + i) ->
        (s"<< /Type /Page /Parent $pagesNum 0 R " +
          s"/MediaBox [0 0 612 792] /Contents ${i + 1} 0 R >>"))
    val bodyBytes = bodies.map(_._2.getBytes(Ascii))
    val offs = bodyBytes.scanLeft(0)((a, bb) => a + bb.length + 1)
    val header = bodies.zip(offs).map { case ((num, _), o) => s"$num $o" }
      .mkString("", " ", "\n")
    val stmPayload = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(header.getBytes(Ascii))
      bodyBytes.foreach { bb => o.write(bb); o.write('\n') }
      o.toByteArray
    }
    val first = header.getBytes(Ascii).length
    val stmData = if (flate) deflate(stmPayload) else stmPayload
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(Ascii))
    val offsets = new Array[Long](nSize)
    w("%PDF-1.5\n")
    var i = 0
    while (i < k) {
      offsets(i + 1) = out.size()
      val filter = if (flate) " /Filter /FlateDecode" else ""
      w(s"${i + 1} 0 obj\n<< /Length ${streams(i).length}$filter >>\nstream\n")
      out.write(streams(i))
      w("\nendstream\nendobj\n")
      i += 1
    }
    offsets(objStmNum) = out.size()
    val stmFilter = if (flate) " /Filter /FlateDecode" else ""
    w(s"$objStmNum 0 obj\n<< /Type /ObjStm /N ${bodies.length} " +
      s"/First $first /Length ${stmData.length}$stmFilter >>\nstream\n")
    out.write(stmData)
    w("\nendstream\nendobj\n")
    // the XRef stream: rows [type(1) field2(3) field3(1)], Predictor 12
    offsets(xrefNum) = out.size()
    require(offsets(xrefNum) < (1 << 24), "fixture exceeds 3-byte offsets")
    val rowLen = 5
    val rows = new Array[Byte](nSize * rowLen)
    def putRow(num: Int, t: Int, f2: Int, f3: Int): Unit = {
      rows(num * rowLen) = t.toByte
      rows(num * rowLen + 1) = ((f2 >> 16) & 0xff).toByte
      rows(num * rowLen + 2) = ((f2 >> 8) & 0xff).toByte
      rows(num * rowLen + 3) = (f2 & 0xff).toByte
      rows(num * rowLen + 4) = f3.toByte
    }
    putRow(0, 0, 0, 255) // the free-list head
    (1 to objStmNum).foreach(n => putRow(n, 1, offsets(n).toInt, 0))
    bodies.zipWithIndex.foreach { case ((num, _), idx) =>
      putRow(num, 2, objStmNum, idx)
    }
    putRow(xrefNum, 1, offsets(xrefNum).toInt, 0)
    // apply the PNG Up predictor forward (tag 2 per row)
    val pred = new Array[Byte](nSize * (rowLen + 1))
    var r = 0
    while (r < nSize) {
      pred(r * (rowLen + 1)) = 2
      var c = 0
      while (c < rowLen) {
        val above = if (r > 0) rows((r - 1) * rowLen + c) & 0xff else 0
        pred(r * (rowLen + 1) + 1 + c) =
          (((rows(r * rowLen + c) & 0xff) - above) & 0xff).toByte
        c += 1
      }
      r += 1
    }
    val xrefData = deflate(pred)
    w(s"$xrefNum 0 obj\n<< /Type /XRef /Size $nSize /Root $catNum 0 R " +
      s"/W [1 3 1] /Index [0 $nSize] /Filter /FlateDecode " +
      s"/DecodeParms << /Predictor 12 /Columns $rowLen >> " +
      s"/Length ${xrefData.length} >>\nstream\n")
    out.write(xrefData)
    w("\nendstream\nendobj\n")
    w(s"startxref\n${offsets(xrefNum)}\n%%EOF\n")
    out.toByteArray
  }

  /** A one-page PDF whose text routes through NON-IDENTITY font
    * encodings: line 1 shows `«line1»` through F1 (`/Encoding
    * /WinAnsiEncoding` — the guillemets are CP1252 high bytes 0xAB/0xBB),
    * line 2 shows `line2` through F2, whose `/ToUnicode` CMap maps
    * SHIFTED one-byte codes (a..z → 0x01..0x1A via one `bfrange`,
    * space → 0x1B and the one-to-many ligature code 0x1C → "qq" via
    * `bfchar`s) — an identity decode of either line yields provably
    * wrong glyphs. `line2` must be [a-z ]. Every code byte writes as an
    * octal escape (raw 0x0D inside a literal would EOL-normalize to
    * 0x0A, corrupting 'm' to 'j'). Extraction round-trip:
    * `«line1»\nline2qq`. */
  def buildPdfWithEncodedText(line1: String, line2: String,
      flate: Boolean): Array[Byte] = {
    require(line2.forall(c => c == ' ' || (c >= 'a' && c <= 'z')),
      "line2 must be [a-z ]")
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    val content = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = content.write(s.getBytes(Ascii))
    w("BT\n/F1 12 Tf\n72 720 Td\n(")
    ("«" + line1 + "»").getBytes(cp1252).foreach { b =>
      val c = b & 0xff
      if (c == '(' || c == ')' || c == '\\') { content.write('\\'); content.write(c) }
      else if (c < 0x20) w(f"\\$c%03o")
      else content.write(c)
    }
    w(") Tj\n0 -14 TD\n/F2 12 Tf\n(")
    (line2.map(c => if (c == ' ') 0x1b else c - 'a' + 1) :+ 0x1c)
      .foreach(code => w(f"\\$code%03o"))
    w(") Tj\nET\n")
    val stream: Array[Byte] =
      if (!flate) content.toByteArray else deflate(content.toByteArray)
    val cmap = ("/CIDInit /ProcSet findresource begin\nbegincmap\n" +
      "1 begincodespacerange\n<00> <ff>\nendcodespacerange\n" +
      "1 beginbfrange\n<01> <1a> <0061>\nendbfrange\n" +
      "2 beginbfchar\n<1b> <0020>\n<1c> <00710071>\nendbfchar\n" +
      "endcmap\nend").getBytes(Ascii)
    val out = new java.io.ByteArrayOutputStream()
    def o(s: String): Unit = out.write(s.getBytes(Ascii))
    val offsets = new Array[Long](8)
    o("%PDF-1.7\n")
    offsets(1) = out.size()
    o("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    offsets(2) = out.size()
    o("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    offsets(3) = out.size()
    o("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 5 0 R /F2 6 0 R >> >> " +
      "/Contents 4 0 R >>\nendobj\n")
    offsets(4) = out.size()
    val filter = if (flate) " /Filter /FlateDecode" else ""
    o(s"4 0 obj\n<< /Length ${stream.length}$filter >>\nstream\n")
    out.write(stream)
    o("\nendstream\nendobj\n")
    offsets(5) = out.size()
    o("5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      "/Encoding /WinAnsiEncoding >>\nendobj\n")
    offsets(6) = out.size()
    o("6 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /Custom " +
      "/ToUnicode 7 0 R >>\nendobj\n")
    offsets(7) = out.size()
    o(s"7 0 obj\n<< /Length ${cmap.length} >>\nstream\n")
    out.write(cmap)
    o("\nendstream\nendobj\n")
    val xrefAt = out.size()
    o("xref\n0 8\n0000000000 65535 f \n")
    (1 to 7).foreach(j => o(f"${offsets(j)}%010d 00000 n \n"))
    o("trailer\n<< /Size 8 /Root 1 0 R >>\n")
    o(s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  /** A classic uncompressed PDF: Catalog(1) → Pages(2) → `nPages` Page
    * objects, single xref table, trailer, startxref. Each page carries a
    * `/Pad` hex string of `padPerPage` bytes so fixture size scales. */
  def buildPdf(nPages: Int, padPerPage: Int = 0): Array[Byte] = {
    require(nPages >= 1 && padPerPage >= 0)
    val out = new java.lang.StringBuilder()
    val offsets = new Array[Long](nPages + 3) // 0 unused (free entry)
    out.append("%PDF-1.7\n")
    offsets(1) = out.length()
    out.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    offsets(2) = out.length()
    val kids = (0 until nPages).map(i => s"${i + 3} 0 R").mkString(" ")
    out.append(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n")
    var i = 0
    while (i < nPages) {
      offsets(i + 3) = out.length()
      val pad = if (padPerPage > 0)
        s" /Pad <${"4a" * padPerPage}>" else ""
      out.append(s"${i + 3} 0 obj\n<< /Type /Page /Parent 2 0 R " +
        s"/MediaBox [0 0 612 792]$pad >>\nendobj\n")
      i += 1
    }
    val xrefAt = out.length()
    val n = nPages + 3
    out.append(s"xref\n0 $n\n")
    out.append("0000000000 65535 f \n")
    var k = 1
    while (k < n) {
      out.append(f"${offsets(k)}%010d 00000 n \n")
      k += 1
    }
    out.append(s"trailer\n<< /Size $n /Root 1 0 R >>\n")
    out.append(s"startxref\n$xrefAt\n%%EOF\n")
    out.toString.getBytes(Ascii)
  }
}

/** `pdf_meta(binary)` → `struct<version string, n_objects int,
  * n_pages int>`; null for non-PDF or structurally broken input. */
case class PdfMeta(child: Expression)
    extends BinaryCodecExpression("pdf_meta", PdfMeta.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val m = Pdfs.pdfMeta(payload.asInstanceOf[Array[Byte]])
    if (m == null) null
    else InternalRow(UTF8String.fromString(m._1), m._2, m._3)
  }

  override protected def withNewChildInternal(newChild: Expression): PdfMeta =
    copy(child = newChild)
}

object PdfMeta {
  val resultType: DataType = StructType(Seq(
    StructField("version", StringType),
    StructField("n_objects", IntegerType),
    StructField("n_pages", IntegerType)))

  def pdfMeta(media: Column): Column =
    GraftColumnShim.column(PdfMeta(GraftColumnShim.expression(media)))
}

/** `pdf_text(binary)` → `array<string>`: per-page extracted text (content
  * streams decoded, FlateDecode inflated, text-showing operators replayed
  * with line ordering — see [[Pdfs.pdfText]]); null for non-PDF or
  * structurally broken input. */
case class PdfText(child: Expression)
    extends BinaryCodecExpression("pdf_text", ArrayType(StringType, containsNull = false)) {
  override def nullSafeEval(payload: Any): Any = {
    val pages = Pdfs.pdfText(payload.asInstanceOf[Array[Byte]])
    if (pages == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      pages.map(p => UTF8String.fromString(p): AnyRef))
  }

  override protected def withNewChildInternal(newChild: Expression): PdfText =
    copy(child = newChild)
}

object PdfText {
  def pdfText(media: Column): Column =
    GraftColumnShim.column(PdfText(GraftColumnShim.expression(media)))
}

/** `pdf_revisions(binary)` → `int`: the number of xref sections (1 +
  * incremental updates) — the edited-document provenance signal; null
  * for non-PDF or a broken /Prev chain (see [[Pdfs.pdfRevisions]]). */
case class PdfRevisions(child: Expression)
    extends BinaryCodecExpression("pdf_revisions", IntegerType) {
  override def nullSafeEval(payload: Any): Any = {
    val r = Pdfs.pdfRevisions(payload.asInstanceOf[Array[Byte]])
    if (r < 0) null else r
  }

  override protected def withNewChildInternal(newChild: Expression): PdfRevisions =
    copy(child = newChild)
}

object PdfRevisions {
  def pdfRevisions(media: Column): Column =
    GraftColumnShim.column(PdfRevisions(GraftColumnShim.expression(media)))
}
