package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free ID3 tag metadata (the public id3.org layouts) — the TEXT
  * face of audio triage: a crawl's MP3/AAC payloads carry their
  * provenance (title/artist/album/year) in a leading ID3v2 tag or a
  * trailing 128-byte ID3v1 block, and surfacing it as typed columns is
  * what lets the curation pipeline (dedup, language-ID, quality scoring)
  * run over audio metadata with the same operators it runs over text
  * (reference: `_get_metadata_dict_for_file`,
  * metadata_json_reproducer.py:74-93).
  *
  * ID3v2.3 and v2.4: 10-byte header (`ID3`, major version, flags,
  * syncsafe size), then frames — 4-char id, size (syncsafe in v2.4,
  * plain big-endian in v2.3), 2 flag bytes, body. Text frames carry an
  * encoding byte (0 = Latin-1, 1 = UTF-16 with BOM, 2 = UTF-16BE,
  * 3 = UTF-8) and NUL-terminated text. TIT2/TPE1/TALB map directly;
  * year is TYER in v2.3 and TDRC in v2.4. An extended header is
  * skipped; the unsynchronisation flag routes to null (route, don't
  * guess at shifted bytes). ID3v1: fixed 30/30/30/4-byte Latin-1 fields
  * in the trailing `TAG` block, used as the fallback when no v2 tag
  * leads the payload. */
object Id3 {

  /** (tag_version, title, artist, album, year) — version 3/4 for ID3v2.3
    * /v2.4, 1 for a trailing ID3v1 block, null when neither is present.
    * Absent fields surface as null, not "". */
  def parse(b: Array[Byte]): (Int, String, String, String, String) = {
    if (b == null) return null
    val v2 = parseV2(b)
    if (v2 != null) return v2
    parseV1(b)
  }

  private def u(b: Array[Byte], i: Int): Int = b(i) & 0xff

  private def syncsafe(b: Array[Byte], i: Int): Int =
    ((u(b, i) & 0x7f) << 21) | ((u(b, i + 1) & 0x7f) << 14) |
      ((u(b, i + 2) & 0x7f) << 7) | (u(b, i + 3) & 0x7f)

  private def be32(b: Array[Byte], i: Int): Int =
    (u(b, i) << 24) | (u(b, i + 1) << 16) | (u(b, i + 2) << 8) | u(b, i + 3)

  /** Text-frame body decode per the encoding byte; trailing NULs and the
    * UTF-16 BOM are stripped. Null for malformed/unknown encodings. */
  private def text(b: Array[Byte], off: Int, len: Int): String = {
    if (len < 1) return null
    val enc = u(b, off)
    val body = java.util.Arrays.copyOfRange(b, off + 1, off + len)
    val cs = enc match {
      case 0 => java.nio.charset.StandardCharsets.ISO_8859_1
      case 1 => java.nio.charset.StandardCharsets.UTF_16 // BOM-dispatched
      case 2 => java.nio.charset.StandardCharsets.UTF_16BE
      case 3 => java.nio.charset.StandardCharsets.UTF_8
      case _ => return null
    }
    val s = new String(body, cs)
    val cut = s.indexOf(0)
    val out = if (cut >= 0) s.substring(0, cut) else s
    if (out.isEmpty) null else out
  }

  private def parseV2(b: Array[Byte]): (Int, String, String, String, String) = {
    if (b.length < 10) return null
    if (!(b(0) == 'I' && b(1) == 'D' && b(2) == '3')) return null
    val major = u(b, 3)
    if (major != 3 && major != 4) return null
    val flags = u(b, 5)
    if ((flags & 0x80) != 0) return null // unsynchronised tag: route
    val size = syncsafe(b, 6)
    val end = math.min(10 + size, b.length)
    var i = 10
    if ((flags & 0x40) != 0) { // extended header
      if (i + 4 > end) return null
      val ext = if (major == 4) syncsafe(b, i) else be32(b, i) + 4
      i += ext
      if (i < 10 || i > end) return null
    }
    var title: String = null; var artist: String = null
    var album: String = null; var year: String = null
    while (i + 10 <= end && b(i) != 0) {
      val id = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val fsz = if (major == 4) syncsafe(b, i + 4) else be32(b, i + 4)
      if (fsz < 0 || i + 10 + fsz > end) return null
      val bodyAt = i + 10
      id match {
        case "TIT2" => title = text(b, bodyAt, fsz)
        case "TPE1" => artist = text(b, bodyAt, fsz)
        case "TALB" => album = text(b, bodyAt, fsz)
        case "TYER" if major == 3 => year = text(b, bodyAt, fsz)
        case "TDRC" if major == 4 => year = text(b, bodyAt, fsz)
        case _ => ()
      }
      i += 10 + fsz
    }
    (major, title, artist, album, year)
  }

  private def v1Field(b: Array[Byte], off: Int, len: Int): String = {
    var end = off + len
    while (end > off && (b(end - 1) == 0 || b(end - 1) == ' ')) end -= 1
    if (end == off) null
    else new String(b, off, end - off, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  private def parseV1(b: Array[Byte]): (Int, String, String, String, String) = {
    if (b.length < 128) return null
    val at = b.length - 128
    if (!(b(at) == 'T' && b(at + 1) == 'A' && b(at + 2) == 'G')) return null
    (1, v1Field(b, at + 3, 30), v1Field(b, at + 33, 30),
      v1Field(b, at + 63, 30), v1Field(b, at + 93, 4))
  }

  // ------------------------------------------------------------- builders

  private def ss4(v: Int): Array[Byte] = {
    require(v >= 0 && v < (1 << 28))
    Array(((v >> 21) & 0x7f).toByte, ((v >> 14) & 0x7f).toByte,
      ((v >> 7) & 0x7f).toByte, (v & 0x7f).toByte)
  }
  private def be4(v: Int): Array[Byte] =
    Array((v >> 24).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** One ID3v2 tag block (version 3 or 4) with the standard text frames;
    * `enc` 0/1/3 selects Latin-1 / UTF-16-BOM / UTF-8 frame bodies. */
  def buildV2(major: Int, enc: Int, title: String, artist: String,
      album: String, year: String, pad: Int = 16): Array[Byte] = {
    require(major == 3 || major == 4)
    require(enc == 0 || enc == 1 || enc == 3)
    def frame(id: String, s: String): Array[Byte] = {
      val body = enc match {
        case 0 => Array(0.toByte) ++
          s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        case 1 => Array(1.toByte) ++
          s.getBytes(java.nio.charset.StandardCharsets.UTF_16) // with BOM
        case _ => Array(3.toByte) ++
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
      id.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
        (if (major == 4) ss4(body.length) else be4(body.length)) ++
        Array[Byte](0, 0) ++ body
    }
    val yearId = if (major == 4) "TDRC" else "TYER"
    val frames = frame("TIT2", title) ++ frame("TPE1", artist) ++
      frame("TALB", album) ++ frame(yearId, year) ++ new Array[Byte](pad)
    "ID3".getBytes ++ Array(major.toByte, 0.toByte, 0.toByte) ++
      ss4(frames.length) ++ frames
  }

  /** A trailing 128-byte ID3v1 block (fields space-padded Latin-1). */
  def buildV1(title: String, artist: String, album: String,
      year: String): Array[Byte] = {
    def f(s: String, len: Int): Array[Byte] = {
      val raw = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      require(raw.length <= len)
      raw ++ Array.fill[Byte](len - raw.length)(0)
    }
    "TAG".getBytes ++ f(title, 30) ++ f(artist, 30) ++ f(album, 30) ++
      f(year, 4) ++ new Array[Byte](30) ++ Array(0.toByte) // comment+genre
  }
}

/** `id3_tags(binary)` → `struct<tag_version int, title string,
  * artist string, album string, year string>` for payloads carrying an
  * ID3v2.3/v2.4 leading tag or an ID3v1 trailer; null otherwise.
  * Codegen'd, same posture as `audio_header` (which skips the same tag to
  * reach the frames — the two compose into codec facts + provenance from
  * one binary column). */
case class Id3Tags(child: Expression)
    extends BinaryCodecExpression("id3_tags", Id3Tags.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val p = Id3.parse(payload.asInstanceOf[Array[Byte]])
    if (p == null) null
    else InternalRow(p._1, UTF8String.fromString(p._2),
      UTF8String.fromString(p._3), UTF8String.fromString(p._4),
      UTF8String.fromString(p._5))
  }

  override protected def withNewChildInternal(newChild: Expression): Id3Tags =
    copy(child = newChild)
}

object Id3Tags {
  val resultType: StructType = StructType(Seq(
    StructField("tag_version", IntegerType),
    StructField("title", StringType),
    StructField("artist", StringType),
    StructField("album", StringType),
    StructField("year", StringType)))

  def id3Tags(media: Column): Column =
    GraftColumnShim.column(Id3Tags(GraftColumnShim.expression(media)))
}
