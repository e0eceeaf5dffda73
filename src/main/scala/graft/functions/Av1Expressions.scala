package graft.functions

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** AV1 codec-configuration parsing, completing the modern-crawl codec trio
  * with [[H264]]/[[H265]]: the av1C box (AV1CodecConfigurationRecord, AOM
  * "AV1 Codec ISO Media File Format Binding" §2.3) carries profile/level/
  * tier directly plus the config OBUs, and the sequence header OBU (AV1
  * Bitstream & Decoding Process Specification §5.5, public) yields the
  * real max frame dimensions — plain bit syntax + LEB128, zero codec
  * libraries. */
object Av1 {

  final case class Av1Info(profile: Int, level: Int, tier: Int,
      width: Int, height: Int, monochrome: Int, subX: Int, subY: Int)

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  /** LEB128 (§4.10.5): returns (value, bytesConsumed) or null. */
  private def leb128(b: Array[Byte], at: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      if (at + i >= b.length) return null
      val byte = u8(b, at + i)
      v |= (byte & 0x7fL) << (7 * i)
      if ((byte & 0x80) == 0) return (v, i + 1)
      i += 1
    }
    null
  }

  /** Parse a sequence header OBU (header byte(s) included) far enough for
    * profile/level/tier/dimensions; null on violations. */
  def parseSeqHeader(obu: Array[Byte]): Av1Info =
    try parseSeqHeader0(obu)
    catch { case scala.util.control.NonFatal(_) => null }

  private def parseSeqHeader0(obu: Array[Byte]): Av1Info = {
    if (obu == null || obu.length < 4) return null
    val h = u8(obu, 0)
    if ((h & 0x80) != 0) return null // forbidden bit
    if (((h >> 3) & 0xf) != 1) return null // OBU_SEQUENCE_HEADER
    val hasExt = (h >> 2) & 1
    val hasSize = (h >> 1) & 1
    var at = 1
    if (hasExt == 1) at += 1
    if (hasSize == 1) {
      val l = leb128(obu, at)
      if (l == null) return null
      at += l._2
    }
    val r = new MsbBitReader(obu, at)
    val profile = r.u(3)
    r.u1() // still_picture
    val reduced = r.u1()
    var level = 0; var tier = 0
    if (reduced == 1) level = r.u(5)
    else {
      if (r.u1() == 1) return null // timing_info: out of scope
      if (r.u1() == 1) return null // initial_display_delay
      val nOps = r.u(5) + 1
      var i = 0
      while (i < nOps) {
        r.u(12) // operating_point_idc
        val lv = r.u(5)
        val tr = if (lv > 7) r.u1() else 0
        if (i == 0) { level = lv; tier = tr }
        i += 1
      }
    }
    val wBits = r.u(4) + 1
    val hBits = r.u(4) + 1
    val width = r.u(wBits) + 1
    val height = r.u(hBits) + 1
    if (width <= 0 || height <= 0 || width > (1 << 16) || height > (1 << 16))
      return null
    // color config lives further down; the av1C record carries
    // monochrome/subsampling authoritatively, so stop here
    Av1Info(profile, level, tier, width, height, 0, 1, 1)
  }

  /** Locate the first av01 sample entry's av1C record and parse its
    * sequence header OBU; record-level fields cross-check the OBU. */
  def parseMp4(b: Array[Byte]): Av1Info =
    try parseMp40(b)
    catch { case scala.util.control.NonFatal(_) => null }

  private def parseMp40(b: Array[Byte]): Av1Info = {
    val rec = H264.extractCodecConfig(b, Set("av01"), "av1C")
    if (rec == null || rec.length < 5) return null
    if (u8(rec, 0) != 0x81) return null // marker=1, version=1
    val profile = (u8(rec, 1) >> 5) & 7
    val level = u8(rec, 1) & 0x1f
    val tier = (u8(rec, 2) >> 7) & 1
    val mono = (u8(rec, 2) >> 4) & 1
    val subX = (u8(rec, 2) >> 3) & 1
    val subY = (u8(rec, 2) >> 2) & 1
    // configOBUs start at byte 4
    val obu = rec.drop(4)
    val parsed = parseSeqHeader(obu)
    if (parsed == null) return null
    if (parsed.profile != profile || parsed.level != level ||
        parsed.tier != tier) return null
    Av1Info(profile, level, tier, parsed.width, parsed.height, mono, subX, subY)
  }

  // ---------------------------------------------------------------- builders

  /** Minimal full (non-reduced) sequence header OBU: one operating point,
    * explicit frame-dimension bit widths, has_size_field set. */
  def buildSeqHeaderObu(profile: Int, level: Int, tier: Int,
      width: Int, height: Int): Array[Byte] = {
    require(width >= 1 && height >= 1)
    val w = new MsbBitWriter
    w.u(profile, 3)
    w.u1(0) // still_picture
    w.u1(0) // reduced_still_picture_header
    w.u1(0) // timing_info_present
    w.u1(0) // initial_display_delay_present
    w.u(0, 5) // operating_points_cnt_minus_1
    w.u(0, 12) // operating_point_idc
    w.u(level, 5)
    if (level > 7) w.u1(tier)
    def bits(v: Int): Int = math.max(1, 32 - Integer.numberOfLeadingZeros(v))
    val wb = bits(width - 1); val hb = bits(height - 1)
    w.u(wb - 1, 4); w.u(hb - 1, 4)
    w.u(width - 1, wb); w.u(height - 1, hb)
    // remaining color-config syntax is unread by the parser; pad out
    val payload = w.finishZeroPad()
    // OBU header: type 1, no extension, has_size_field
    val size = payload.length
    require(size < 128) // single LEB128 byte is plenty here
    Array(((1 << 3) | (1 << 1)).toByte, size.toByte) ++ payload
  }

  /** AV1CodecConfigurationRecord wrapping the sequence header OBU. */
  def buildAv1C(obu: Array[Byte]): Array[Byte] = {
    val parsed = parseSeqHeader(obu)
    require(parsed != null, "config OBU must be a valid sequence header")
    Array(
      0x81.toByte, // marker + version 1
      (((parsed.profile & 7) << 5) | (parsed.level & 0x1f)).toByte,
      ((parsed.tier << 7) | (0 << 6) /* high_bitdepth */ |
        (0 << 5) /* twelve_bit */ | (0 << 4) /* monochrome */ |
        (1 << 3) | (1 << 2) /* chroma subsampling 4:2:0 */ |
        0 /* sample position */).toByte,
      0.toByte // no initial_presentation_delay
    ) ++ obu
  }
}

/** `av1_meta(binary)` → `struct<profile, level, tier, width, height,
  * monochrome, sub_x, sub_y>` from an MP4 payload's av1C record — the AV1
  * face of `h264_meta`/`hevc_meta`: max frame dimensions out of the
  * sequence header OBU's bit syntax. Null without an av01 entry. */
case class Av1Meta(child: Expression)
    extends BinaryCodecExpression("av1_meta", Av1Meta.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val m = Av1.parseMp4(payload.asInstanceOf[Array[Byte]])
    if (m == null) null
    else InternalRow(m.profile, m.level, m.tier, m.width, m.height,
      m.monochrome, m.subX, m.subY)
  }

  override protected def withNewChildInternal(newChild: Expression): Av1Meta =
    copy(child = newChild)
}

object Av1Meta {
  val resultType: StructType = StructType(Seq(
    StructField("profile", IntegerType),
    StructField("level", IntegerType),
    StructField("tier", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("monochrome", IntegerType),
    StructField("sub_x", IntegerType),
    StructField("sub_y", IntegerType)))

  def av1Meta(media: Column): Column =
    GraftColumnShim.column(Av1Meta(GraftColumnShim.expression(media)))
}
