package graft.functions

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** H.264 codec-configuration parsing with ZERO codec libraries: the avcC
  * box (AVCDecoderConfigurationRecord, ISO 14496-15 §5.3) carries the
  * sequence parameter set, and the SPS is plain Exp-Golomb bit syntax
  * (ITU-T H.264 §7.3.2.1.1, public) — profile, level, and the REAL coded
  * frame dimensions (macroblock grid minus the cropping window). This is
  * the last piece of video metadata a triage pipeline needs that the
  * container's tkhd cannot be trusted for (presentation size ≠ coded
  * size); only the slice-data entropy decode itself stays behind the
  * multimodal stub.
  */
object H264 {

  /** Parsed SPS facts + avcC envelope counts. */
  final case class SpsInfo(profile: Int, level: Int, width: Int, height: Int,
      lengthSize: Int, nSps: Int, nPps: Int)

  /** Remove emulation-prevention bytes: every 0x03 that follows 0x00 0x00
    * inside an RBSP (H.264 §7.4.1.1). */
  private[graft] def stripEmulation(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var zeros = 0
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      if (zeros >= 2 && v == 3) zeros = 0 // drop the emulation byte
      else {
        out.write(v)
        zeros = if (v == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  /** Insert emulation-prevention bytes (the encode-side inverse). */
  private[graft] def insertEmulation(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length + 8)
    var zeros = 0
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      if (zeros >= 2 && v <= 3) { out.write(3); zeros = 0 }
      out.write(v)
      zeros = if (v == 0) zeros + 1 else 0
      i += 1
    }
    out.toByteArray
  }

  private val HighProfiles =
    Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

  /** Parse one SPS NAL unit (header byte included) → (profile, level,
    * coded width, coded height); null on any structural violation. */
  def parseSps(nal: Array[Byte]): (Int, Int, Int, Int) =
    try parseSps0(nal)
    catch { case scala.util.control.NonFatal(_) => null }

  private def parseSps0(nal: Array[Byte]): (Int, Int, Int, Int) = {
    if (nal == null || nal.length < 4) return null
    if ((nal(0) & 0x1f) != 7) return null // nal_unit_type must be SPS
    val r = new MsbBitReader(stripEmulation(nal.drop(1)))
    val profile = r.u(8)
    r.u(8) // constraint flags + reserved
    val level = r.u(8)
    r.ue() // seq_parameter_set_id
    var chromaFormat = 1 // default 4:2:0 for non-high profiles
    if (HighProfiles.contains(profile)) {
      chromaFormat = r.ue()
      if (chromaFormat == 3) r.u1() // separate_colour_plane_flag
      r.ue(); r.ue() // bit depths
      r.u1() // qpprime_y_zero_transform_bypass
      if (r.u1() == 1) { // seq_scaling_matrix_present
        val lists = if (chromaFormat == 3) 12 else 8
        var i = 0
        while (i < lists) {
          if (r.u1() == 1) { // scaling list present: skip its deltas
            val size = if (i < 6) 16 else 64
            var lastScale = 8; var nextScale = 8
            var j = 0
            while (j < size) {
              if (nextScale != 0) nextScale = (lastScale + r.se() + 256) % 256
              lastScale = if (nextScale == 0) lastScale else nextScale
              j += 1
            }
          }
          i += 1
        }
      }
    }
    r.ue() // log2_max_frame_num_minus4
    val pocType = r.ue()
    if (pocType == 0) r.ue() // log2_max_pic_order_cnt_lsb_minus4
    else if (pocType == 1) {
      r.u1() // delta_pic_order_always_zero
      r.se(); r.se() // offsets
      val n = r.ue()
      var i = 0
      while (i < n) { r.se(); i += 1 }
    }
    r.ue() // max_num_ref_frames
    r.u1() // gaps_in_frame_num_value_allowed
    val widthMbs = r.ue() + 1
    val heightMapUnits = r.ue() + 1
    val frameMbsOnly = r.u1()
    if (frameMbsOnly == 0) r.u1() // mb_adaptive_frame_field
    r.u1() // direct_8x8_inference
    var cropL = 0; var cropR = 0; var cropT = 0; var cropB = 0
    if (r.u1() == 1) { cropL = r.ue(); cropR = r.ue(); cropT = r.ue(); cropB = r.ue() }
    // crop units (§7.4.2.1.1): SubWidthC/SubHeightC by chroma format;
    // vertical unit additionally doubles for field coding
    val (cw, chh) = chromaFormat match {
      case 0 => (1, 1) // monochrome
      case 1 => (2, 2) // 4:2:0
      case 2 => (2, 1) // 4:2:2
      case _ => (1, 1) // 4:4:4
    }
    val cropUnitX = cw
    val cropUnitY = chh * (2 - frameMbsOnly)
    val width = 16 * widthMbs - cropUnitX * (cropL + cropR)
    val height = 16 * (2 - frameMbsOnly) * heightMapUnits - cropUnitY * (cropT + cropB)
    if (width <= 0 || height <= 0 || widthMbs > (1 << 14) || heightMapUnits > (1 << 14))
      return null
    (profile, level, width, height)
  }

  /** Locate the first avc1/avc3 sample entry's avcC record in an ISO-BMFF
    * payload and parse its first SPS; null when absent/malformed. */
  def parseMp4Sps(b: Array[Byte]): SpsInfo =
    try parseMp4Sps0(b)
    catch { case scala.util.control.NonFatal(_) => null }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16i(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  private def parseMp4Sps0(b: Array[Byte]): SpsInfo = {
    val avcc = extractAvcC(b)
    if (avcc == null || avcc.length < 8) return null
    if (u8(avcc, 0) != 1) return null // configurationVersion
    val profile = u8(avcc, 1)
    val level = u8(avcc, 3)
    val lengthSize = (u8(avcc, 4) & 3) + 1
    val nSps = u8(avcc, 5) & 0x1f
    if (nSps < 1) return null
    val spsLen = be16i(avcc, 6)
    if (8 + spsLen > avcc.length) return null
    val sps = avcc.slice(8, 8 + spsLen)
    // PPS count sits after ALL SPS records; walk them
    var off = 6
    var k = 0
    while (k < nSps) {
      if (off + 2 > avcc.length) return null
      val l = be16i(avcc, off)
      off += 2 + l
      k += 1
    }
    if (off >= avcc.length) return null
    val nPps = u8(avcc, off)
    val parsed = parseSps(sps)
    if (parsed == null) return null
    // the avcC profile mirrors the SPS; the record LEVEL may lawfully be
    // ≥ the SPS level (ISO 14496-15: "equal to or greater than the highest
    // level indicated") — report the SPS's own values, reject only a
    // record that UNDERSTATES them
    if (parsed._1 != profile || level < parsed._2) return null
    SpsInfo(parsed._1, parsed._2, parsed._3, parsed._4, lengthSize, nSps, nPps)
  }

  /** Walk stsd's first avc1/avc3 entry for its avcC child (the entry's
    * fixed visual fields are 78 bytes after the 8-byte entry header). A
    * fallback linear scan tolerates nonstandard prefixes. */
  private[functions] def extractAvcC(b: Array[Byte]): Array[Byte] =
    extractCodecConfig(b, Set("avc1", "avc3"), "avcC")

  /** The general sample-entry codec-config walk shared with [[H265]]. */
  private[functions] def extractCodecConfig(b: Array[Byte],
      entryFourccs: Set[String], childTag: String): Array[Byte] = {
    if (b == null || b.length < 16) return null
    def tag(i: Int): String =
      if (i + 4 > b.length) ""
      else new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def be32(i: Int): Long =
      ((u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) |
        u8(b, i + 3)) & 0xffffffffL
    def find(start: Long, end: Long, t: String): Long = {
      var i = start
      while (i + 8 <= end) {
        val size = be32(i.toInt)
        if (size < 8 || i + size > end) return -1L
        if (tag((i + 4).toInt) == t) return i
        i += size
      }
      -1L
    }
    if (tag(4) != "ftyp") return null
    val moov = find(0, b.length.toLong, "moov")
    if (moov < 0) return null
    val moovEnd = moov + be32(moov.toInt)
    var t = moov + 8
    var guard = 0
    while (guard < 64) {
      t = find(t, moovEnd, "trak")
      if (t < 0) return null
      val tEnd = t + be32(t.toInt)
      val mdia = find(t + 8, tEnd, "mdia")
      if (mdia >= 0) {
        val mEnd = mdia + be32(mdia.toInt)
        val minf = find(mdia + 8, mEnd, "minf")
        if (minf >= 0) {
          val stbl = find(minf + 8, minf + be32(minf.toInt), "stbl")
          if (stbl >= 0) {
            val stsd = find(stbl + 8, stbl + be32(stbl.toInt), "stsd")
            if (stsd >= 0 && stsd + 16 <= b.length) {
              val entry = stsd + 16 // box hdr 8 + version/flags 4 + count 4
              val entrySize = be32(entry.toInt)
              val entryEnd = entry + entrySize
              val fourcc = tag((entry + 4).toInt)
              if (entryFourccs.contains(fourcc) && entryEnd <= b.length) {
                // canonical child position, then a tolerant scan
                var c = find(entry + 8 + 78, entryEnd, childTag)
                if (c < 0) {
                  var probe = entry + 16
                  while (c < 0 && probe + 8 <= entryEnd) {
                    if (tag((probe + 4).toInt) == childTag &&
                        be32(probe.toInt) >= 8 &&
                        probe + be32(probe.toInt) <= entryEnd) c = probe
                    probe += 1
                  }
                }
                if (c >= 0)
                  return b.slice((c + 8).toInt, (c + be32(c.toInt)).toInt)
              }
            }
          }
        }
      }
      t = tEnd
      guard += 1
    }
    null
  }

  // ---------------------------------------------------------------- builders

  /** Baseline-profile SPS with explicit macroblock grid and crop window —
    * the deterministic inverse of [[parseSps]] (frame_mbs_only, 4:2:0 crop
    * units of 2 px). `pocOffset != 0` switches to pic_order_cnt_type 1
    * carrying it as offset_for_non_ref_pic — a large value's Exp-Golomb
    * zero run is how a VALID stream manufactures 00 00 0x byte patterns,
    * exercising emulation-prevention end to end. */
  def buildSps(level: Int, widthMbs: Int, heightMapUnits: Int,
      cropRight: Int, cropBottom: Int, pocOffset: Int = 0): Array[Byte] = {
    require(widthMbs >= 1 && heightMapUnits >= 1)
    val w = new MsbBitWriter
    w.u(66, 8) // profile_idc: baseline
    w.u(0, 8) // constraint flags
    w.u(level, 8)
    w.ue(0) // sps id
    w.ue(0) // log2_max_frame_num_minus4
    if (pocOffset == 0) w.ue(2) // pic_order_cnt_type 2: no further POC syntax
    else {
      w.ue(1) // poc type 1
      w.u1(0) // delta_pic_order_always_zero
      val k = if (pocOffset > 0) 2 * pocOffset - 1 else -2 * pocOffset // se code
      w.ue(k) // offset_for_non_ref_pic (se-coded)
      w.ue(0) // offset_for_top_to_bottom_field (se(0))
      w.ue(0) // num_ref_frames_in_pic_order_cnt_cycle
    }
    w.ue(1) // max_num_ref_frames
    w.u1(0) // gaps allowed
    w.ue(widthMbs - 1)
    w.ue(heightMapUnits - 1)
    w.u1(1) // frame_mbs_only
    w.u1(1) // direct_8x8_inference
    if (cropRight > 0 || cropBottom > 0) {
      w.u1(1)
      w.ue(0); w.ue(cropRight); w.ue(0); w.ue(cropBottom)
    } else w.u1(0)
    val rbsp = insertEmulation(w.finishStopBit())
    Array(0x67.toByte) ++ rbsp // nal_ref_idc=3, type=7
  }

  /** AVCDecoderConfigurationRecord wrapping one SPS (+ one placeholder
    * PPS — parsers only count it). */
  def buildAvcC(sps: Array[Byte]): Array[Byte] = {
    val pps = Array(0x68.toByte, 0xce.toByte, 0x38.toByte, 0x80.toByte)
    Array[Byte](1, sps(1), sps(2), sps(3), (0xfc | 3).toByte, (0xe0 | 1).toByte) ++
      Array(((sps.length >> 8) & 0xff).toByte, (sps.length & 0xff).toByte) ++ sps ++
      Array(1.toByte) ++
      Array(((pps.length >> 8) & 0xff).toByte, (pps.length & 0xff).toByte) ++ pps
  }

  /** Annex-B byte-stream walk (H.264 Annex B, the framing TS and raw .264
    * files use — vs the length-prefixed MP4 layout): NAL units are
    * delimited by 00 00 01 start codes (optionally with extra leading
    * zeros); trailing zeros before the next start code belong to the
    * framing, not the NAL. Returns (nal_type, size, payload) per unit in
    * stream order, or null when the stream does not begin with a start
    * code or any unit sets the forbidden_zero_bit (a desynced stream
    * cannot be attributed — route, don't guess). Emulation-prevention
    * inside a NAL guarantees no false start codes, so the split is exact
    * on spec-conformant streams. */
  def annexbNals(b: Array[Byte]): Array[(Int, Long, Array[Byte])] = {
    if (b == null || b.length < 4) return null
    var i = 0
    while (i < b.length && b(i) == 0) i += 1
    if (i < 2 || i >= b.length || b(i) != 1) return null // must open 00 00 01
    val starts = new scala.collection.mutable.ArrayBuffer[Int]()
    starts += i + 1
    var zeros = 0
    var j = i + 1
    while (j < b.length) {
      val v = b(j) & 0xff
      if (v == 1 && zeros >= 2) { starts += j + 1; zeros = 0 }
      else zeros = if (v == 0) zeros + 1 else 0
      j += 1
    }
    val out = new Array[(Int, Long, Array[Byte])](starts.length)
    var k = 0
    while (k < starts.length) {
      val from = starts(k)
      var to = if (k + 1 < starts.length) starts(k + 1) - 3 else b.length
      while (to > from && b(to - 1) == 0) to -= 1 // framing zeros
      if (to <= from) return null // empty NAL: malformed framing
      val hdr = b(from) & 0xff
      if ((hdr & 0x80) != 0) return null // forbidden_zero_bit
      out(k) = (hdr & 0x1f, (to - from).toLong,
        java.util.Arrays.copyOfRange(b, from, to))
      k += 1
    }
    out
  }
}

/** `h264_meta(binary)` → `struct<profile, level, width, height,
  * length_size, n_sps, n_pps>` from an MP4 payload's avcC record: REAL
  * coded dimensions out of the SPS's Exp-Golomb syntax, no codec library.
  * Null for payloads without an avc1/avc3 entry or with malformed
  * configuration. */
case class H264Meta(child: Expression)
    extends BinaryCodecExpression("h264_meta", H264Meta.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val m = H264.parseMp4Sps(payload.asInstanceOf[Array[Byte]])
    if (m == null) null
    else InternalRow(m.profile, m.level, m.width, m.height, m.lengthSize,
      m.nSps, m.nPps)
  }

  override protected def withNewChildInternal(newChild: Expression): H264Meta =
    copy(child = newChild)
}

object H264Meta {
  val resultType: StructType = StructType(Seq(
    StructField("profile", IntegerType),
    StructField("level", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("length_size", IntegerType),
    StructField("n_sps", IntegerType),
    StructField("n_pps", IntegerType)))

  def h264Meta(media: Column): Column =
    GraftColumnShim.column(H264Meta(GraftColumnShim.expression(media)))
}

/** `annexb_nals(binary)` → `array<struct<nal_type int, size bigint,
  * payload binary>>` — the H.264 Annex-B framing walk ([[H264.annexbNals]]):
  * start-code split with framing-zero trim, null for streams that do not
  * open with a start code or violate forbidden_zero_bit. Composes with
  * `ts_pes` (TS elementary streams are Annex-B) and `h264_sps_meta`. */
case class AnnexbNals(child: Expression)
    extends BinaryCodecExpression("annexb_nals", AnnexbNals.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val nals = H264.annexbNals(payload.asInstanceOf[Array[Byte]])
    if (nals == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      nals.map(n => InternalRow(n._1, n._2, n._3): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): AnnexbNals =
    copy(child = newChild)
}

object AnnexbNals {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("nal_type", IntegerType),
    StructField("size", LongType),
    StructField("payload", BinaryType))), containsNull = false)

  def annexbNals(es: Column): Column =
    GraftColumnShim.column(AnnexbNals(GraftColumnShim.expression(es)))
}

/** `h264_sps_meta(binary)` → `struct<profile int, level int, width int,
  * height int>` from ONE bare SPS NAL (header byte included) — the
  * Exp-Golomb parse of [[H264.parseSps]] exposed directly so demuxed
  * Annex-B streams can be interrogated without an avcC wrapper. */
case class H264SpsMeta(child: Expression)
    extends BinaryCodecExpression("h264_sps_meta", H264SpsMeta.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val m = H264.parseSps(payload.asInstanceOf[Array[Byte]])
    if (m == null) null
    else InternalRow(m._1, m._2, m._3, m._4)
  }

  override protected def withNewChildInternal(newChild: Expression): H264SpsMeta =
    copy(child = newChild)
}

object H264SpsMeta {
  val resultType: StructType = StructType(Seq(
    StructField("profile", IntegerType),
    StructField("level", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  def h264SpsMeta(nal: Column): Column =
    GraftColumnShim.column(H264SpsMeta(GraftColumnShim.expression(nal)))
}
