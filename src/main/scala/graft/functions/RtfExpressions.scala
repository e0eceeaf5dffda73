package graft.functions

import scala.util.control.NonFatal

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free RTF plain-text extraction (Microsoft's public RTF 1.9.1
  * specification). RTF is the third legacy-document format a crawl corpus
  * actually carries after PDF and the OOXML/ODF zips — unlike those it is
  * a flat token stream, so extraction is a single group-aware walk:
  *
  *  - groups `{...}` nest; the `\ucN` fallback-skip count is GROUP STATE
  *    (inherits on open, restores on close — a `\uc0` inside a group must
  *    not leak out, §"Unicode RTF");
  *  - a control WORD is `\` + letters + optional signed decimal + one
  *    optional space delimiter (the space is eaten, a following letter or
  *    brace is not);
  *  - non-text DESTINATIONS (`\fonttbl`, `\colortbl`, `\stylesheet`,
  *    `\info`, `\pict`, ...) are skipped whole-group, as is every starred
  *    group `{\*\...}` whose destination we don't render (the spec's
  *    "ignore unknown starred destinations" rule — this is what makes the
  *    walk forward-compatible with arbitrary writer extensions);
  *  - `\'xx` decodes a cp1252 byte, `\uN` a signed UTF-16 code unit whose
  *    next `uc` fallback characters are consumed (each fallback is one
  *    plain char, one `\'xx`, or one control word);
  *  - `\binN` skips N RAW bytes (they may contain `{`/`}`/`\`);
  *  - `\par`/`\line`/`\sect` render `\n`, `\tab` renders `\t`, `\~`
  *    a NBSP, `\{ \} \\` their literals.
  *
  * The walk never throws: any structural surprise ends extraction with
  * what was accumulated, and a payload that doesn't open with `{\rtf`
  * returns null (the quarantine posture of every other media parser —
  * reference behavior: undecodable uploads are routed, not raised,
  * openmsistream/data_file_io/entity/download_data_file.py:92-119). */
object Rtfs {

  /** Destination control words whose whole group carries no body text. */
  private val SkipDests: Set[String] = Set(
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "footer", "headerl", "headerr", "headerf", "footerl",
    "footerr", "footerf", "footnote", "annotation", "xe", "tc",
    "themedata", "colorschememapping", "latentstyles", "datastore",
    "generator", "operator", "leveltext", "levelnumbers", "listtable",
    "listoverridetable", "revtbl", "rsidtbl", "filetbl")

  /** cp1252's 0x80-0x9F block (the only place it differs from Latin-1
    * in the printable range); 0x81/8D/8F/90/9D are unassigned → U+FFFD. */
  private val Cp1252Hi: Array[Char] = Array(
    '\u20ac', '\ufffd', '\u201a', '\u0192', '\u201e', '\u2026', '\u2020',
    '\u2021', '\u02c6', '\u2030', '\u0160', '\u2039', '\u0152', '\ufffd',
    '\u017d', '\ufffd', '\ufffd', '\u2018', '\u2019', '\u201c', '\u201d',
    '\u2022', '\u2013', '\u2014', '\u02dc', '\u2122', '\u0161', '\u203a',
    '\u0153', '\ufffd', '\u017e', '\u0178')

  private def cp1252(b: Int): Char =
    if (b >= 0x80 && b <= 0x9f) Cp1252Hi(b - 0x80) else b.toChar

  /** Plain text of an RTF payload, or null when it isn't RTF. */
  def rtfText(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 6) return null
    if (!(bytes(0) == '{' && bytes(1) == '\\' && bytes(2) == 'r' &&
        bytes(3) == 't' && bytes(4) == 'f')) return null
    try walk(bytes)
    catch { case NonFatal(_) => null }
  }

  private final case class GState(var uc: Int, var skip: Boolean)

  private def walk(b: Array[Byte]): String = {
    val out = new java.lang.StringBuilder(b.length / 2)
    var stack = List(GState(uc = 1, skip = false))
    var i = 0
    val n = b.length
    // fallback-skip budget after a \uN: counts CHARACTERS still to eat
    var pendSkip = 0
    def st = stack.head
    def emit(c: Char): Unit =
      if (st.skip) ()
      else if (pendSkip > 0) pendSkip -= 1
      else out.append(c)
    while (i < n) {
      (b(i) & 0xff).toChar match {
        case '{' =>
          stack = GState(st.uc, st.skip) :: stack
          i += 1
        case '}' =>
          if (stack.tail.nonEmpty) stack = stack.tail
          pendSkip = 0
          i += 1
        case '\\' if i + 1 < n =>
          val c1 = (b(i + 1) & 0xff).toChar
          if (c1 == '\'') {
            if (i + 3 < n) {
              val hx = Character.digit((b(i + 2) & 0xff).toChar, 16)
              val lx = Character.digit((b(i + 3) & 0xff).toChar, 16)
              if (hx >= 0 && lx >= 0) emit(cp1252(hx * 16 + lx))
              i += 4
            } else i = n
          } else if (c1.isLetter) {
            var j = i + 1
            while (j < n && ((b(j) & 0xff).toChar).isLetter) j += 1
            val word = new String(b, i + 1, j - i - 1, "US-ASCII")
            var neg = false
            if (j < n && (b(j) & 0xff).toChar == '-') { neg = true; j += 1 }
            var num = 0L
            var hasNum = false
            // cap at Int.MaxValue (not lower): \binN skips N raw bytes, and a
            // lower saturation point would skip the wrong count and leak the
            // remainder of the blob into extracted text as garbage — any N
            // beyond the array length is clamped at the skip site anyway
            while (j < n && ((b(j) & 0xff).toChar).isDigit) {
              num = math.min(num * 10 + ((b(j) & 0xff) - '0'), Int.MaxValue.toLong)
              hasNum = true; j += 1
            }
            val arg = if (neg) -num else num
            // eat the single optional space delimiter
            if (j < n && (b(j) & 0xff).toChar == ' ') j += 1
            word match {
              case "u" if hasNum =>
                val cu = (if (arg < 0) arg + 65536 else arg).toInt
                if (cu >= 0 && cu <= 0xffff) emit(cu.toChar)
                // the next uc fallback chars are NOT content
                if (!st.skip) pendSkip = st.uc
              case "uc" if hasNum =>
                st.uc = math.max(0, math.min(arg, 16)).toInt
              case "bin" =>
                j += math.max(0L, math.min(arg, (n - j).toLong)).toInt
              case "par" | "line" | "sect" => emit('\n')
              case "tab" | "cell" => emit('\t')
              case "emdash" => emit('\u2014')
              case "endash" => emit('\u2013')
              case "lquote" => emit('\u2018')
              case "rquote" => emit('\u2019')
              case "ldblquote" => emit('\u201c')
              case "rdblquote" => emit('\u201d')
              case "bullet" => emit('\u2022')
              case w if SkipDests(w) => st.skip = true
              case _ => () // formatting word: no text
            }
            i = j
          } else {
            c1 match {
              case '{' | '}' | '\\' => emit(c1)
              case '~' => emit('\u00a0')
              case '-' | '_' => emit('\u00ad') // optional/nb hyphen
              case '*' =>
                // starred destination: skip the group unless the next
                // control word is one we render (none are — spec rule)
                st.skip = true
              case '\r' | '\n' => emit('\n') // \<newline> = \par alias
              case _ => ()
            }
            i += 2
          }
        case '\r' | '\n' => i += 1 // raw newlines are NOT content
        case c =>
          emit(c)
          i += 1
      }
    }
    out.toString
  }

  /** Fixture encoder: renders `text` as an RTF document the parser must
    * invert exactly. Escapes braces/backslash, encodes U+0080-U+00FF as
    * `\'xx` where cp1252 has the char (else `\uN`), all higher planes as
    * `\uN` with a one-char `?` fallback, `\n` as `\par`, `\t` as `\tab`.
    * Ships a font table, color table, a starred generator group, and an
    * `\info` destination so extraction must actually skip destinations. */
  def buildRtf(text: String): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    sb.append("{\\rtf1\\ansi\\ansicpg1252\\deff0\\uc1")
    sb.append("{\\fonttbl{\\f0\\fswiss Helvetica;}{\\f1\\fmodern Courier;}}")
    sb.append("{\\colortbl;\\red0\\green0\\blue0;\\red255\\green0\\blue0;}")
    sb.append("{\\*\\generator graft fixture encoder;}")
    sb.append("{\\info{\\title not body text}{\\author graft}}")
    sb.append("\\f0\\fs24 ")
    var k = 0
    while (k < text.length) {
      val c = text.charAt(k)
      c match {
        case '\n' => sb.append("\\par\n")
        case '\t' => sb.append("\\tab ")
        case '{' => sb.append("\\{")
        case '}' => sb.append("\\}")
        case '\\' => sb.append("\\\\")
        case c if c < 0x80 => sb.append(c)
        case c if c >= 0xa0 && c <= 0xff =>
          // cp1252 is Latin-1 above 0x9F; 0x80-0x9F raw chars (C1
          // controls) do NOT round-trip through \'xx and take \uN below
          sb.append(f"\\'${c.toInt}%02x")
        case c =>
          // cp1252 round-trips for the 0x80-0x9F block's chars too
          val hi = Cp1252Hi.indexOf(c)
          if (hi >= 0) sb.append(f"\\'${hi + 0x80}%02x")
          else sb.append("\\u").append(c.toInt.toShort.toInt).append("?")
      }
      k += 1
    }
    sb.append("}")
    sb.toString.getBytes("ISO-8859-1")
  }
}

/** `rtf_text(binary)` → extracted plain text; null when the payload is
  * not RTF or the walk fails structurally. */
case class RtfText(child: Expression) extends BinaryCodecExpression("rtf_text", StringType) {
  override def nullSafeEval(payload: Any): Any = {
    val s = Rtfs.rtfText(payload.asInstanceOf[Array[Byte]])
    if (s == null) null else UTF8String.fromString(s)
  }

  override protected def withNewChildInternal(newChild: Expression): RtfText =
    copy(child = newChild)
}

object RtfText {
  def rtfText(media: Column): Column =
    GraftColumnShim.column(RtfText(GraftColumnShim.expression(media)))
}
