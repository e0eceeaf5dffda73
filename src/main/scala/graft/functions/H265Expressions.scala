package graft.functions

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** H.265/HEVC codec-configuration parsing, completing the video-config
  * pair with [[H264]]: the hvcC record (HEVCDecoderConfigurationRecord,
  * ISO 14496-15 §8.3.3.1) carries profile/tier/level directly plus the
  * parameter-set arrays, and the SPS (ITU-T H.265 §7.3.2.2, public)
  * yields the real luma dimensions minus the conformance window — again
  * pure Exp-Golomb bit syntax, zero codec libraries. */
object H265 {

  final case class HevcInfo(profileIdc: Int, tier: Int, level: Int,
      width: Int, height: Int, chromaFormat: Int, lengthSize: Int, nArrays: Int)

  /** Parse one H.265 SPS NAL (2-byte NAL header, type 33) far enough for
    * (profile_idc, tier, level, width, height, chroma_format); null on any
    * structural violation. The conformance window subtracts in chroma
    * sub-sampling units (§7.4.3.2.1). */
  def parseSps(nal: Array[Byte]): (Int, Int, Int, Int, Int, Int) =
    try parseSps0(nal)
    catch { case scala.util.control.NonFatal(_) => null }

  private def parseSps0(nal: Array[Byte]): (Int, Int, Int, Int, Int, Int) = {
    if (nal == null || nal.length < 6) return null
    if (((nal(0) & 0x7e) >> 1) != 33) return null // nal_unit_type SPS_NUT
    val r = new MsbBitReader(H264.stripEmulation(nal.drop(2)))
    r.u(4) // sps_video_parameter_set_id
    val maxSubLayers = r.u(3)
    r.u1() // temporal_id_nesting
    // profile_tier_level(1, maxSubLayers)
    r.u(2) // profile_space
    val tier = r.u1()
    val profileIdc = r.u(5)
    r.u(32) // profile_compatibility_flags
    r.u(32); r.u(16) // 48 constraint bits
    val level = r.u(8)
    if (maxSubLayers > 0) {
      val profPresent = new Array[Int](maxSubLayers)
      val levelPresent = new Array[Int](maxSubLayers)
      var i = 0
      while (i < maxSubLayers) {
        profPresent(i) = r.u1(); levelPresent(i) = r.u1(); i += 1
      }
      if (maxSubLayers < 8) r.u(2 * (8 - maxSubLayers)) // alignment
      i = 0
      while (i < maxSubLayers) {
        if (profPresent(i) == 1) { r.u(32); r.u(32); r.u(24) } // sub ptl (88)
        if (levelPresent(i) == 1) r.u(8)
        i += 1
      }
    }
    r.ue() // sps_seq_parameter_set_id
    val chroma = r.ue()
    if (chroma > 3) return null
    if (chroma == 3) r.u1() // separate_colour_plane
    val picW = r.ue()
    val picH = r.ue()
    var cropL = 0; var cropR = 0; var cropT = 0; var cropB = 0
    if (r.u1() == 1) { cropL = r.ue(); cropR = r.ue(); cropT = r.ue(); cropB = r.ue() }
    val (sw, sh) = chroma match {
      case 1 => (2, 2) // 4:2:0
      case 2 => (2, 1) // 4:2:2
      case _ => (1, 1) // mono / 4:4:4
    }
    val width = picW - sw * (cropL + cropR)
    val height = picH - sh * (cropT + cropB)
    if (width <= 0 || height <= 0 || picW > (1 << 16) || picH > (1 << 16))
      return null
    (profileIdc, tier, level, width, height, chroma)
  }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  /** Locate the first hvc1/hev1 sample entry's hvcC and parse its SPS. */
  def parseMp4Sps(b: Array[Byte]): HevcInfo =
    try parseMp4Sps0(b)
    catch { case scala.util.control.NonFatal(_) => null }

  private def parseMp4Sps0(b: Array[Byte]): HevcInfo = {
    val rec = H264.extractCodecConfig(b, Set("hvc1", "hev1"), "hvcC")
    if (rec == null || rec.length < 23) return null
    if (u8(rec, 0) != 1) return null
    val lengthSize = (u8(rec, 21) & 3) + 1
    val nArrays = u8(rec, 22)
    // walk arrays for the SPS (NAL type 33)
    var off = 23
    var a = 0
    while (a < nArrays) {
      if (off + 3 > rec.length) return null
      val nalType = u8(rec, off) & 0x3f
      val n = be16(rec, off + 1)
      off += 3
      var k = 0
      while (k < n) {
        if (off + 2 > rec.length) return null
        val len = be16(rec, off)
        if (off + 2 + len > rec.length) return null
        if (nalType == 33) {
          val parsed = parseSps(rec.slice(off + 2, off + 2 + len))
          if (parsed == null) return null
          // record profile mirrors the SPS ptl; record LEVEL/TIER may
          // lawfully be ≥ the SPS's (ISO 14496-15 §8.3.3: capability
          // "equal to or greater") — report the SPS's own values, reject
          // only a record that UNDERSTATES them
          val recProfile = u8(rec, 1) & 0x1f
          val recTier = (u8(rec, 1) >> 5) & 1
          val recLevel = u8(rec, 12)
          if (recProfile != parsed._1 || recTier < parsed._2 ||
              recLevel < parsed._3) return null
          return HevcInfo(parsed._1, parsed._2, parsed._3, parsed._4,
            parsed._5, parsed._6, lengthSize, nArrays)
        }
        off += 2 + len
        k += 1
      }
      a += 1
    }
    null
  }

  // ---------------------------------------------------------------- builders

  /** Minimal-but-complete H.265 SPS (Main profile shape, 4:2:0, no
    * sub-layers): every mandatory field through the VUI flag is written,
    * so the bitstream is spec-complete, with the conformance window
    * carrying the crop. */
  def buildSps(profileIdc: Int, tier: Int, level: Int, picW: Int, picH: Int,
      cropRight: Int, cropBottom: Int): Array[Byte] = {
    val w = new MsbBitWriter
    w.u(0, 4) // vps id
    w.u(0, 3) // max_sub_layers_minus1
    w.u1(1) // temporal_id_nesting
    w.u(0, 2); w.u1(tier); w.u(profileIdc, 5)
    w.u(1 << (31 - profileIdc), 32) // compat flag for our own profile
    w.u(0, 32); w.u(0, 16) // constraint bits
    w.u(level, 8)
    w.ue(0) // sps id
    w.ue(1) // chroma_format_idc 4:2:0
    w.ue(picW)
    w.ue(picH)
    if (cropRight > 0 || cropBottom > 0) {
      w.u1(1); w.ue(0); w.ue(cropRight); w.ue(0); w.ue(cropBottom)
    } else w.u1(0)
    w.ue(0); w.ue(0) // bit depths luma/chroma minus 8
    w.ue(4) // log2_max_pic_order_cnt_lsb_minus4
    w.u1(1) // sub_layer_ordering_info_present
    w.ue(1); w.ue(0); w.ue(0) // max_dec_pic_buffering/num_reorder/latency
    w.ue(0) // log2_min_luma_coding_block_size_minus3
    w.ue(3) // log2_diff_max_min_luma_coding_block_size
    w.ue(0) // log2_min_luma_transform_block_size_minus2
    w.ue(3) // log2_diff_max_min_luma_transform_block_size
    w.ue(0); w.ue(0) // max_transform_hierarchy_depth inter/intra
    w.u1(0) // scaling_list_enabled
    w.u1(0); w.u1(0) // amp_enabled, sample_adaptive_offset
    w.u1(0) // pcm_enabled
    w.ue(0) // num_short_term_ref_pic_sets
    w.u1(0) // long_term_ref_pics_present
    w.u1(0) // sps_temporal_mvp_enabled
    w.u1(0) // strong_intra_smoothing
    w.u1(0) // vui_parameters_present
    w.u1(0) // sps_extension_present
    val rbsp = H264.insertEmulation(w.finishStopBit())
    // NAL header: forbidden 0, type 33, layer 0, tid+1 = 1
    Array(0x42.toByte, 0x01.toByte) ++ rbsp
  }

  /** HEVCDecoderConfigurationRecord wrapping one SPS array. */
  def buildHvcC(sps: Array[Byte]): Array[Byte] = {
    val r = new MsbBitReader(H264.stripEmulation(sps.drop(2)))
    r.u(4); r.u(3); r.u1()
    r.u(2)
    val tier = r.u1()
    val profileIdc = r.u(5)
    val compat = ((r.u(16).toLong << 16) | r.u(16)) & 0xffffffffL
    r.u(32); r.u(16)
    val level = r.u(8)
    val head = Array[Byte](
      1,
      ((tier << 5) | profileIdc).toByte,
      ((compat >> 24) & 0xff).toByte, ((compat >> 16) & 0xff).toByte,
      ((compat >> 8) & 0xff).toByte, (compat & 0xff).toByte,
      0, 0, 0, 0, 0, 0, // 48 constraint bits
      level.toByte,
      0xf0.toByte, 0, // min_spatial_segmentation
      0xfc.toByte, // parallelismType
      (0xfc | 1).toByte, // chromaFormat 4:2:0
      0xf8.toByte, 0xf8.toByte, // bit depths (minus 8 = 0)
      0, 0, // avgFrameRate
      (0x03 | (1 << 3) | (1 << 2)).toByte, // 1 temporal layer, nested, len 4
      1) // numOfArrays
    head ++ Array((0x80 | 33).toByte) /* completeness + SPS type */ ++
      Array(0.toByte, 1.toByte) /* one NAL */ ++
      Array(((sps.length >> 8) & 0xff).toByte, (sps.length & 0xff).toByte) ++ sps
  }
}

/** `hevc_meta(binary)` → `struct<profile, tier, level, width, height,
  * chroma_format, length_size, n_arrays>` from an MP4 payload's hvcC
  * record — the H.265 face of `h264_meta`, REAL coded dimensions from the
  * SPS's conformance window. Null without an hvc1/hev1 entry. */
case class HevcMeta(child: Expression)
    extends BinaryCodecExpression("hevc_meta", HevcMeta.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val m = H265.parseMp4Sps(payload.asInstanceOf[Array[Byte]])
    if (m == null) null
    else InternalRow(m.profileIdc, m.tier, m.level, m.width, m.height,
      m.chromaFormat, m.lengthSize, m.nArrays)
  }

  override protected def withNewChildInternal(newChild: Expression): HevcMeta =
    copy(child = newChild)
}

object HevcMeta {
  val resultType: StructType = StructType(Seq(
    StructField("profile", IntegerType),
    StructField("tier", IntegerType),
    StructField("level", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("chroma_format", IntegerType),
    StructField("length_size", IntegerType),
    StructField("n_arrays", IntegerType)))

  def hevcMeta(media: Column): Column =
    GraftColumnShim.column(HevcMeta(GraftColumnShim.expression(media)))
}
