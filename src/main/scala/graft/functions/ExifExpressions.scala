package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free EXIF metadata (EXIF 2.3 / TIFF 6.0, both public specs) —
  * the provenance-and-PII face of image triage. A crawl's JPEG/TIFF
  * payloads carry capture provenance (camera make/model, timestamp,
  * orientation, ISO) and frequently precise GPS coordinates inside an
  * EXIF block: surfacing those as typed columns lets the curation
  * pipeline run provenance dedup/quality gates over images with the same
  * operators it uses for text, and GPS is image-side PII that a
  * redaction pass must strip (the image analog of the reference's
  * metadata extraction hook, metadata_json_reproducer.py:74-93, and of
  * x115's text PII scrub).
  *
  * Layouts implemented directly from the specs: a JPEG APP1 segment
  * tagged `Exif\0\0` wrapping a TIFF structure, or a bare TIFF file.
  * TIFF: 8-byte header (II/MM endianness, magic 42, 0th-IFD offset),
  * then IFDs of 12-byte entries (tag, type, count, inline-or-offset
  * value). The 0th IFD carries Make/Model/Orientation/DateTime plus
  * pointers to the Exif sub-IFD (ISO) and the GPS IFD (lat/lon refs +
  * degree/minute/second RATIONAL triplets). Values whose byte size is
  * ≤ 4 live left-justified inside the value field; larger values live at
  * a header-relative offset. Structural violations route the whole
  * parse to null; an absent tag routes its field to null.
  */
object Exif {

  /** Parsed EXIF surface. GPS coordinates are signed centi-arcseconds
    * (1° = 360 000 csec): `sign · (deg·360000 + min·6000 + sec·100)`
    * with each RATIONAL term reduced by truncating integer division —
    * integer-exact for the den|100·num rationals real receivers write,
    * deterministic for everything else. */
  final case class Info(
      byteOrder: String, // "II" | "MM"
      orientation: java.lang.Integer,
      make: String,
      model: String,
      datetime: String,
      iso: java.lang.Integer,
      hasGps: Boolean,
      latCsec: java.lang.Long,
      lonCsec: java.lang.Long)

  private def u(b: Array[Byte], i: Int): Int = b(i) & 0xff

  /** null when `b` carries no parseable EXIF block. */
  def parse(b: Array[Byte]): Info = {
    if (b == null) return null
    val at = tiffStart(b)
    if (at < 0) null else parseTiff(b, at)
  }

  /** Offset of the TIFF header inside `b`: 0 for a bare TIFF file, the
    * APP1 body for a JPEG, -1 when absent. */
  private[functions] def tiffStart(b: Array[Byte]): Int = {
    if (b.length >= 8 && isTiffHeader(b, 0)) return 0
    if (b.length < 4 || u(b, 0) != 0xff || u(b, 1) != 0xd8) return -1
    // JPEG marker walk (same discipline as ImageHeaders.parseJpeg):
    // segments until SOS/EOI; APP1 must lead "Exif\0\0".
    var i = 2
    while (i + 4 <= b.length) {
      if (u(b, i) != 0xff) return -1
      var m = u(b, i + 1)
      if (m == 0xff) { i += 1 } // fill byte
      else if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) { i += 2 } // bare marker
      else if (m == 0xd9 || m == 0xda) return -1 // EOI / SOS: no EXIF ahead
      else {
        val len = (u(b, i + 2) << 8) | u(b, i + 3)
        if (len < 2 || i + 2 + len > b.length) return -1
        if (m == 0xe1 && len >= 2 + 6 + 8 &&
            b(i + 4) == 'E' && b(i + 5) == 'x' && b(i + 6) == 'i' &&
            b(i + 7) == 'f' && b(i + 8) == 0 && b(i + 9) == 0 &&
            isTiffHeader(b, i + 10)) {
          return i + 10
        }
        i += 2 + len
      }
    }
    -1
  }

  private def isTiffHeader(b: Array[Byte], i: Int): Boolean =
    i + 8 <= b.length &&
      ((u(b, i) == 'I' && u(b, i + 1) == 'I' && u(b, i + 2) == 42 && u(b, i + 3) == 0) ||
       (u(b, i) == 'M' && u(b, i + 1) == 'M' && u(b, i + 2) == 0 && u(b, i + 3) == 42))

  // TIFF field types (TIFF 6.0 §2)
  private final val TByte = 1
  private final val TAscii = 2
  private final val TShort = 3
  private final val TLong = 4
  private final val TRational = 5

  private def typeSize(t: Int): Int = t match {
    case TByte | TAscii => 1
    case TShort => 2
    case TLong | TRational => if (t == TRational) 8 else 4
    case _ => -1
  }

  /** One parsed IFD entry: the absolute offset of its value bytes (inline
    * entries point into the 12-byte entry itself, per the left-justified
    * rule, which holds in both byte orders). */
  private final case class Entry(tag: Int, typ: Int, count: Int, valueAt: Int)

  private final class Reader(b: Array[Byte], tiffAt: Int, le: Boolean) {
    def r16(i: Int): Int =
      if (i < 0 || i + 2 > b.length) -1
      else if (le) u(b, i) | (u(b, i + 1) << 8)
      else (u(b, i) << 8) | u(b, i + 1)
    def r32(i: Int): Long =
      if (i < 0 || i + 4 > b.length) -1L
      else if (le)
        (u(b, i) | (u(b, i + 1) << 8) | (u(b, i + 2) << 16) |
          (u(b, i + 3).toLong << 24)) & 0xffffffffL
      else
        ((u(b, i).toLong << 24) | (u(b, i + 1) << 16) | (u(b, i + 2) << 8) |
          u(b, i + 3)) & 0xffffffffL

    /** Entries of the IFD at header-relative offset `off`; null on any
      * structural violation. */
    def ifd(off: Long): Array[Entry] = {
      if (off < 8 || tiffAt + off + 2 > b.length) return null
      val at = (tiffAt + off).toInt
      val n = r16(at)
      if (n <= 0 || n > 4096 || at + 2 + 12L * n + 4 > b.length) return null
      Array.tabulate(n) { e =>
        val o = at + 2 + 12 * e
        val typ = r16(o + 2)
        val count = r32(o + 4)
        if (count < 0 || count > Int.MaxValue) return null
        val sz = typeSize(typ)
        val total = if (sz <= 0) -1L else sz * count
        val valueAt =
          if (total >= 0 && total <= 4) o + 8
          else {
            val ptr = r32(o + 8)
            if (ptr < 0 || tiffAt + ptr + total > b.length) -1 else (tiffAt + ptr).toInt
          }
        Entry(r16(o), typ, count.toInt, valueAt)
      }
    }

    def find(es: Array[Entry], tag: Int): Entry = {
      if (es == null) return null
      var i = 0
      while (i < es.length) {
        if (es(i).tag == tag && es(i).valueAt >= 0) return es(i)
        i += 1
      }
      null
    }

    def ascii(e: Entry): String = {
      if (e == null || e.typ != TAscii || e.count <= 0) return null
      var end = e.valueAt + e.count
      if (end > b.length) return null
      while (end > e.valueAt && b(end - 1) == 0) end -= 1
      if (end == e.valueAt) null
      else new String(b, e.valueAt, end - e.valueAt,
        java.nio.charset.StandardCharsets.US_ASCII)
    }

    def short1(e: Entry): java.lang.Integer =
      if (e == null || e.typ != TShort || e.count < 1) null
      else {
        val v = r16(e.valueAt)
        if (v < 0) null else Integer.valueOf(v)
      }

    def long1(e: Entry): Long =
      if (e == null || e.count < 1) -1L
      else e.typ match {
        case TLong => r32(e.valueAt)
        case TShort => val v = r16(e.valueAt); if (v < 0) -1L else v.toLong
        case _ => -1L
      }

    /** RATIONAL triple (deg, min, sec) → centi-arcseconds, or Long.MinValue
      * on malformed input. Truncating division per term, documented. */
    def dmsCsec(e: Entry): Long = {
      if (e == null || e.typ != TRational || e.count < 3) return Long.MinValue
      def term(i: Int, mult: Long): Long = {
        val num = r32(e.valueAt + 8 * i)
        val den = r32(e.valueAt + 8 * i + 4)
        if (num < 0 || den <= 0) Long.MinValue else num * mult / den
      }
      val d = term(0, 360000L); val m = term(1, 6000L); val s = term(2, 100L)
      if (d == Long.MinValue || m == Long.MinValue || s == Long.MinValue)
        Long.MinValue
      else d + m + s
    }
  }

  // 0th-IFD tags (EXIF 2.3 §4.6.4)
  private final val TagMake = 0x010f
  private final val TagModel = 0x0110
  private final val TagOrientation = 0x0112
  private final val TagDateTime = 0x0132
  private final val TagExifIfd = 0x8769
  private final val TagGpsIfd = 0x8825
  // Exif-IFD tags
  private final val TagIso = 0x8827
  // GPS-IFD tags (EXIF 2.3 §4.6.6)
  private final val TagGpsLatRef = 1
  private final val TagGpsLat = 2
  private final val TagGpsLonRef = 3
  private final val TagGpsLon = 4

  private def parseTiff(b: Array[Byte], tiffAt: Int): Info = {
    val le = u(b, tiffAt) == 'I'
    val r = new Reader(b, tiffAt, le)
    val ifd0off = r.r32(tiffAt + 4)
    val ifd0 = r.ifd(ifd0off)
    if (ifd0 == null) return null
    val make = r.ascii(r.find(ifd0, TagMake))
    val model = r.ascii(r.find(ifd0, TagModel))
    val orientation = r.short1(r.find(ifd0, TagOrientation))
    val datetime = r.ascii(r.find(ifd0, TagDateTime))

    var iso: java.lang.Integer = null
    val exifPtr = r.long1(r.find(ifd0, TagExifIfd))
    if (exifPtr > 0) {
      val sub = r.ifd(exifPtr)
      if (sub != null) iso = r.short1(r.find(sub, TagIso))
    }

    var hasGps = false
    var lat: java.lang.Long = null
    var lon: java.lang.Long = null
    val gpsPtr = r.long1(r.find(ifd0, TagGpsIfd))
    if (gpsPtr > 0) {
      val gps = r.ifd(gpsPtr)
      if (gps != null) {
        hasGps = true
        val latRef = r.ascii(r.find(gps, TagGpsLatRef))
        val lonRef = r.ascii(r.find(gps, TagGpsLonRef))
        val latV = r.dmsCsec(r.find(gps, TagGpsLat))
        val lonV = r.dmsCsec(r.find(gps, TagGpsLon))
        if (latRef != null && latV != Long.MinValue)
          lat = java.lang.Long.valueOf(if (latRef == "S") -latV else latV)
        if (lonRef != null && lonV != Long.MinValue)
          lon = java.lang.Long.valueOf(if (lonRef == "W") -lonV else lonV)
      }
    }
    Info(if (le) "II" else "MM", orientation, make, model, datetime, iso,
      hasGps, lat, lon)
  }

  // ------------------------------------------------------------- builders

  /** GPS coordinate for the builder: positive ref ("N"/"E") carries the
    * sign; seconds are a num/den RATIONAL. */
  final case class Dms(positive: Boolean, deg: Int, min: Int,
      secNum: Int, secDen: Int)

  private final class TiffWriter(le: Boolean) {
    private val out = new java.io.ByteArrayOutputStream()
    def size: Int = out.size()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit =
      if (le) { w8(v); w8(v >> 8) } else { w8(v >> 8); w8(v) }
    def w32(v: Long): Unit =
      if (le) { w8(v.toInt); w8((v >> 8).toInt); w8((v >> 16).toInt); w8((v >> 24).toInt) }
      else { w8((v >> 24).toInt); w8((v >> 16).toInt); w8((v >> 8).toInt); w8(v.toInt) }
    def bytes(a: Array[Byte]): Unit = out.write(a, 0, a.length)
    def result(): Array[Byte] = out.toByteArray
  }

  private sealed trait Field { def tag: Int; def typ: Int; def count: Int
    def inline: Array[Byte] = null; def data: TiffWriter => Unit = null
    def dataSize: Int = 0 }
  private final case class FShort(tag: Int, v: Int) extends Field {
    def typ = TShort; def count = 1 }
  private final case class FLong(tag: Int, v: Long) extends Field {
    def typ = TLong; def count = 1 }
  private final case class FAscii(tag: Int, s: String) extends Field {
    val b: Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII) :+ 0.toByte
    def typ = TAscii; def count = b.length
    override def dataSize: Int = if (b.length > 4) b.length else 0 }
  private final case class FDms(tag: Int, v: Dms) extends Field {
    def typ = TRational; def count = 3; override def dataSize: Int = 24 }

  /** Serialize one IFD (entries ascending by tag, per TIFF 6.0) at offset
    * `at`, with its overflow data following immediately; returns the
    * writer advanced past IFD + data. Pointer fields (FLong for sub-IFD
    * offsets) are resolved by the caller. */
  private def writeIfd(w: TiffWriter, fields: Seq[Field]): Unit = {
    val sorted = fields.sortBy(_.tag)
    val dataAt = w.size + 2 + 12 * sorted.length + 4
    var off = dataAt
    w.w16(sorted.length)
    for (f <- sorted) {
      w.w16(f.tag); w.w16(f.typ); w.w32(f.count.toLong)
      f match {
        case FShort(_, v) =>
          w.w16(v); w.w16(0)
        case FLong(_, v) => w.w32(v)
        case fa: FAscii =>
          if (fa.b.length <= 4) {
            fa.b.foreach(x => w.w8(x.toInt)); (fa.b.length until 4).foreach(_ => w.w8(0))
          } else { w.w32(off.toLong); off += fa.b.length }
        case _: FDms => w.w32(off.toLong); off += 24
      }
    }
    w.w32(0) // next IFD
    for (f <- sorted) f match {
      case fa: FAscii if fa.b.length > 4 => w.bytes(fa.b)
      case FDms(_, v) =>
        w.w32(v.deg.toLong); w.w32(1L)
        w.w32(v.min.toLong); w.w32(1L)
        w.w32(v.secNum.toLong); w.w32(v.secDen.toLong)
      case _ => ()
    }
  }

  private def ifdSize(fields: Seq[Field]): Int =
    2 + 12 * fields.length + 4 + fields.map(_.dataSize).sum

  /** Build a TIFF EXIF block. `lat`/`lon` null ⇒ no GPS IFD; `iso` < 0 ⇒
    * no Exif sub-IFD. */
  def buildTiff(littleEndian: Boolean, orientation: Int, make: String,
      model: String, datetime: String, iso: Int,
      lat: Dms, lon: Dms): Array[Byte] = {
    val w = new TiffWriter(littleEndian)
    if (littleEndian) { w.w8('I'); w.w8('I'); w.w16(42) }
    else { w.w8('M'); w.w8('M'); w.w16(42) }
    w.w32(8L) // 0th IFD right after the header

    val hasExif = iso >= 0
    val hasGps = lat != null && lon != null
    val base = Seq[Field](FAscii(TagMake, make), FAscii(TagModel, model),
      FShort(TagOrientation, orientation), FAscii(TagDateTime, datetime))
    val withPtrs = base ++
      (if (hasExif) Seq(FLong(TagExifIfd, 0)) else Nil) ++
      (if (hasGps) Seq(FLong(TagGpsIfd, 0)) else Nil)
    val ifd0At = 8
    val exifAt = ifd0At + ifdSize(withPtrs)
    val exifFields = Seq[Field](FShort(TagIso, iso))
    val gpsAt = exifAt + (if (hasExif) ifdSize(exifFields) else 0)
    val ifd0 = base ++
      (if (hasExif) Seq(FLong(TagExifIfd, exifAt.toLong)) else Nil) ++
      (if (hasGps) Seq(FLong(TagGpsIfd, gpsAt.toLong)) else Nil)
    writeIfd(w, ifd0)
    if (hasExif) writeIfd(w, exifFields)
    if (hasGps) writeIfd(w, Seq[Field](
      FAscii(TagGpsLatRef, if (lat.positive) "N" else "S"),
      FDms(TagGpsLat, lat),
      FAscii(TagGpsLonRef, if (lon.positive) "E" else "W"),
      FDms(TagGpsLon, lon)))
    w.result()
  }

  /** Wrap a TIFF block as a JPEG APP1 segment. */
  def app1(tiff: Array[Byte]): Array[Byte] = {
    val body = "Exif".getBytes ++ Array[Byte](0, 0) ++ tiff
    val len = body.length + 2
    require(len <= 0xffff, "EXIF block too large for one APP1 segment")
    Array(0xff.toByte, 0xe1.toByte, (len >> 8).toByte, (len & 0xff).toByte) ++ body
  }

  /** Insert an APP1 segment right after a JPEG's SOI. */
  def spliceApp1(jpeg: Array[Byte], seg: Array[Byte]): Array[Byte] = {
    require(jpeg.length >= 2 && u(jpeg, 0) == 0xff && u(jpeg, 1) == 0xd8,
      "not a JPEG")
    jpeg.take(2) ++ seg ++ jpeg.drop(2)
  }

  // -------------------------------------------------------------- scrub

  /** GPS redaction (allow-list semantics): for a JPEG whose EXIF block
    * carries a GPS IFD, the APP1 segment is REBUILT as a canonical
    * little-endian TIFF holding only the allow-listed provenance tags
    * (make/model/orientation/datetime + Exif-IFD ISO) — GPS and any
    * unknown/private tags are dropped, entropy-coded image data is
    * untouched. A JPEG without a GPS IFD (or without EXIF) passes through
    * unchanged. A bare TIFF with GPS routes to null: its IFDs point into
    * image data this scrubber does not relocate, so "couldn't scrub"
    * must surface as absence, never as silently retained coordinates. */
  def scrubGps(b: Array[Byte]): Array[Byte] = {
    if (b == null) return null
    if (b.length >= 8 && isTiffHeader(b, 0)) {
      val info = parseTiff(b, 0)
      return if (info != null && info.hasGps) null else b
    }
    if (b.length < 4 || u(b, 0) != 0xff || u(b, 1) != 0xd8) return b
    // locate the EXIF APP1 segment boundaries
    var segAt = -1; var segEnd = -1
    var i = 2
    var done = false
    while (!done && i + 4 <= b.length) {
      if (u(b, i) != 0xff) { done = true }
      else {
        val m = u(b, i + 1)
        if (m == 0xff) i += 1
        else if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) i += 2
        else if (m == 0xd9 || m == 0xda) done = true
        else {
          val len = (u(b, i + 2) << 8) | u(b, i + 3)
          if (len < 2 || i + 2 + len > b.length) done = true
          else {
            if (m == 0xe1 && len >= 2 + 6 + 8 &&
                b(i + 4) == 'E' && b(i + 5) == 'x' && b(i + 6) == 'i' &&
                b(i + 7) == 'f' && b(i + 8) == 0 && b(i + 9) == 0 &&
                isTiffHeader(b, i + 10)) {
              segAt = i; segEnd = i + 2 + len; done = true
            } else i += 2 + len
          }
        }
      }
    }
    if (segAt < 0) return b
    val info = parseTiff(b, segAt + 10)
    if (info == null || !info.hasGps) return b
    val clean = buildTiff(littleEndian = true,
      orientation = if (info.orientation == null) 1 else info.orientation.intValue(),
      make = if (info.make == null) "" else info.make,
      model = if (info.model == null) "" else info.model,
      datetime = if (info.datetime == null) "" else info.datetime,
      iso = if (info.iso == null) -1 else info.iso.intValue(),
      lat = null, lon = null)
    b.take(segAt) ++ app1(clean) ++ b.drop(segEnd)
  }
}

/** `exif_tags(binary)` → `struct<byte_order string, orientation int,
  * make string, model string, datetime string, iso int, has_gps boolean,
  * lat_csec bigint, lon_csec bigint>` for JPEG-APP1 or bare-TIFF EXIF;
  * null when no EXIF block parses. GPS surfaces as signed
  * centi-arcseconds (1° = 360 000). Codegen'd like the other media
  * expressions. */
case class ExifTags(child: Expression)
    extends BinaryCodecExpression("exif_tags", ExifTags.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val p = Exif.parse(payload.asInstanceOf[Array[Byte]])
    if (p == null) null
    else InternalRow(UTF8String.fromString(p.byteOrder), p.orientation,
      UTF8String.fromString(p.make), UTF8String.fromString(p.model),
      UTF8String.fromString(p.datetime), p.iso, p.hasGps, p.latCsec, p.lonCsec)
  }

  override protected def withNewChildInternal(newChild: Expression): ExifTags =
    copy(child = newChild)
}

object ExifTags {
  val resultType: StructType = StructType(Seq(
    StructField("byte_order", StringType),
    StructField("orientation", IntegerType),
    StructField("make", StringType),
    StructField("model", StringType),
    StructField("datetime", StringType),
    StructField("iso", IntegerType),
    StructField("has_gps", BooleanType),
    StructField("lat_csec", LongType),
    StructField("lon_csec", LongType)))

  def exifTags(media: Column): Column =
    GraftColumnShim.column(ExifTags(GraftColumnShim.expression(media)))
}

/** `exif_scrub_gps(binary)` → binary: [[Exif.scrubGps]] as an expression —
  * GPS-bearing JPEGs come back with a canonical allow-list APP1 (image
  * data untouched), GPS-free payloads pass through unchanged, and a
  * GPS-bearing bare TIFF routes to null (unscrubbable here ⇒ absent,
  * never silently retained). */
case class ExifScrubGps(child: Expression)
    extends BinaryCodecExpression("exif_scrub_gps", BinaryType) {
  override def nullSafeEval(payload: Any): Any =
    Exif.scrubGps(payload.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): ExifScrubGps =
    copy(child = newChild)
}

object ExifScrubGps {
  def exifScrubGps(media: Column): Column =
    GraftColumnShim.column(ExifScrubGps(GraftColumnShim.expression(media)))
}
