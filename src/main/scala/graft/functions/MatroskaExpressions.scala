package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free Matroska/WebM container walk — the EBML face of the
  * multimodal pillar's in-container capability, mirroring the ISO-BMFF
  * [[VideoHeaders.parseTracks]] contract for the other big crawl container
  * (RFC 8794 EBML varints + the public Matroska element IDs; reference
  * processes any `datafile_type`, data_file_stream_processor.py:207-224 —
  * here the container index itself is queryable, no codec).
  *
  * What's read: the EBML header's DocType; Segment → Info's
  * TimestampScale/Duration (segment-wide, reported on every track row);
  * Segment → Tracks → per-TrackEntry number/type/CodecID, Video
  * PixelWidth/PixelHeight, Audio SamplingFrequency/Channels. Sample decode
  * stays behind the multimodal stub — this is triage, not playback.
  */
object Mkv {

  /** One TrackEntry's facts. `kind` is the decoded TrackType ("video",
    * "audio", "subtitle", else "other"); dims are 0 for non-video,
    * channels/rate 0 for non-audio. `durationUs` is the SEGMENT duration
    * (Matroska keeps one clock per segment, not per track) in exact
    * integer micros: Duration ticks × TimestampScale ns / 1000. */
  final case class MkvTrack(trackId: Int, kind: String, codec: String,
      width: Int, height: Int, channels: Int, sampleRate: Int,
      durationUs: Long)

  // EBML / Matroska element IDs (public spec), as their encoded values
  private val IdEbml = 0x1A45DFA3L
  private val IdDocType = 0x4282L
  private val IdSegment = 0x18538067L
  private val IdInfo = 0x1549A966L
  private val IdTimestampScale = 0x2AD7B1L
  private val IdDuration = 0x4489L
  private val IdTracks = 0x1654AE6BL
  private val IdTrackEntry = 0xAEL
  private val IdTrackNumber = 0xD7L
  private val IdTrackType = 0x83L
  private val IdCodecId = 0x86L
  private val IdVideo = 0xE0L
  private val IdPixelWidth = 0xB0L
  private val IdPixelHeight = 0xBAL
  private val IdAudio = 0xE1L
  private val IdSamplingFrequency = 0xB5L
  private val IdChannels = 0x9FL
  private val IdVoid = 0xECL

  private val MaxTracks = 64

  private def u(b: Array[Byte], i: Int): Int = b(i) & 0xff

  /** EBML varint at `i`: (value, byteLen), or null past `end`/malformed.
    * IDs keep their marker bits (spec: an ID is its full encoding); sizes
    * strip them. A size whose data bits are all ones means "unknown". */
  private def vint(b: Array[Byte], i: Int, end: Int,
      keepMarker: Boolean): (Long, Int) = {
    if (i >= end) return null
    val first = u(b, i)
    if (first == 0) return null // >8-byte varint: not valid EBML
    val len = Integer.numberOfLeadingZeros(first) - 23 // 1..8
    if (i + len > end) return null
    var v: Long = if (keepMarker) first else first & ((1 << (8 - len)) - 1)
    var k = 1
    while (k < len) { v = (v << 8) | u(b, i + k); k += 1 }
    (v, len)
  }

  /** All-data-bits-set ⇒ unknown size (streamed Segments use this). */
  private def isUnknownSize(v: Long, len: Int): Boolean =
    v == (1L << (7 * len)) - 1

  /** Big-endian uint of 0..8 payload bytes (EBML uint element body).
    * RFC 8794 §7.1: a zero-length unsigned integer element is value 0 —
    * some muxers write e.g. TrackNumber minimally; rejecting len 0 would
    * null out spec-valid files. */
  private def uintBody(b: Array[Byte], off: Int, len: Int): Long = {
    if (len == 0) return 0L
    if (len < 1 || len > 8) throw new IllegalStateException("uint len")
    var v = 0L; var k = 0
    while (k < len) { v = (v << 8) | u(b, off + k); k += 1 }
    v
  }

  /** EBML float element body: 4-byte IEEE single or 8-byte double. */
  private def floatBody(b: Array[Byte], off: Int, len: Int): Double =
    len match {
      case 4 => java.lang.Float.intBitsToFloat(uintBody(b, off, 4).toInt).toDouble
      case 8 => java.lang.Double.longBitsToDouble(uintBody(b, off, 8))
      case 0 => 0.0
      case _ => throw new IllegalStateException("float len")
    }

  /** Walk children of [start,end), calling `f(id, bodyOff, bodyLen)` per
    * element; stops at a malformed header (structural break → throw, the
    * caller's try maps it to null). Child sizes must be known — unknown
    * size is only tolerated on Segment itself (mapped to `end`). */
  private def walk(b: Array[Byte], start: Int, end: Int)
      (f: (Long, Int, Int) => Unit): Unit = {
    var i = start
    while (i < end) {
      val idR = vint(b, i, end, keepMarker = true)
      if (idR == null) throw new IllegalStateException("bad element id")
      val szR = vint(b, i + idR._2, end, keepMarker = false)
      if (szR == null) throw new IllegalStateException("bad element size")
      if (isUnknownSize(szR._1, szR._2))
        throw new IllegalStateException("unknown child size")
      val bodyOff = i + idR._2 + szR._2
      if (szR._1 > (end - bodyOff).toLong)
        throw new IllegalStateException("element overruns parent")
      f(idR._1, bodyOff, szR._1.toInt)
      i = bodyOff + szR._1.toInt
    }
  }

  /** Parse every TrackEntry to [[MkvTrack]]; null when the payload is not
    * EBML/Matroska or structurally broken — route, don't crash (the same
    * triage posture as [[VideoHeaders.parseTracks]]). More than 64 tracks
    * ⇒ null (abnormal shape must not yield a plausible partial answer). */
  def parseTracks(b: Array[Byte]): Seq[MkvTrack] =
    try parseTracks0(b)
    catch { case scala.util.control.NonFatal(_) => null }

  /** The Segment's DocType ("webm"/"matroska"), or null. */
  def parseDocType(b: Array[Byte]): String =
    try parseDocType0(b)
    catch { case scala.util.control.NonFatal(_) => null }

  private def parseDocType0(b: Array[Byte]): String = {
    if (b == null || b.length < 8) return null
    val hdr = vint(b, 0, b.length, keepMarker = true)
    if (hdr == null || hdr._1 != IdEbml) return null
    val hsz = vint(b, hdr._2, b.length, keepMarker = false)
    if (hsz == null || isUnknownSize(hsz._1, hsz._2)) return null
    val hOff = hdr._2 + hsz._2
    if (hsz._1 > (b.length - hOff).toLong) return null
    var docType: String = null
    walk(b, hOff, hOff + hsz._1.toInt) { (id, off, len) =>
      if (id == IdDocType)
        docType = new String(b, off, len, java.nio.charset.StandardCharsets.US_ASCII)
    }
    docType
  }

  private def parseTracks0(b: Array[Byte]): Seq[MkvTrack] = {
    if (b == null || b.length < 8) return null
    if (parseDocType0(b) == null) return null
    // skip the EBML header, then require Segment
    val hdr = vint(b, 0, b.length, keepMarker = true)
    val hsz = vint(b, hdr._2, b.length, keepMarker = false)
    var i = hdr._2 + hsz._2 + hsz._1.toInt
    val segId = vint(b, i, b.length, keepMarker = true)
    if (segId == null || segId._1 != IdSegment) return null
    val segSz = vint(b, i + segId._2, b.length, keepMarker = false)
    if (segSz == null) return null
    val segOff = i + segId._2 + segSz._2
    // a streamed Segment may declare unknown size: body runs to buffer end
    val segEnd =
      if (isUnknownSize(segSz._1, segSz._2)) b.length
      else {
        if (segSz._1 > (b.length - segOff).toLong) return null
        segOff + segSz._1.toInt
      }
    var scaleNs = 1000000L // TimestampScale default per spec
    var durTicks = -1.0
    val entries = Seq.newBuilder[(Int, Int, String, Int, Int, Int, Int)]
    var nTracks = 0
    walk(b, segOff, segEnd) { (id, off, len) =>
      if (id == IdInfo) {
        walk(b, off, off + len) { (cid, coff, clen) =>
          if (cid == IdTimestampScale) scaleNs = uintBody(b, coff, clen)
          else if (cid == IdDuration) durTicks = floatBody(b, coff, clen)
        }
      } else if (id == IdTracks) {
        walk(b, off, off + len) { (cid, coff, clen) =>
          if (cid == IdTrackEntry) {
            nTracks += 1
            if (nTracks > MaxTracks)
              throw new IllegalStateException("track count over cap")
            var num = -1; var typ = -1; var codec: String = null
            var w = 0; var h = 0; var ch = 0; var rate = 0
            walk(b, coff, coff + clen) { (tid, toff, tlen) =>
              if (tid == IdTrackNumber) num = uintBody(b, toff, tlen).toInt
              else if (tid == IdTrackType) typ = uintBody(b, toff, tlen).toInt
              else if (tid == IdCodecId)
                codec = new String(b, toff, tlen,
                  java.nio.charset.StandardCharsets.US_ASCII)
              else if (tid == IdVideo) {
                walk(b, toff, toff + tlen) { (vid, voff, vlen) =>
                  if (vid == IdPixelWidth) w = uintBody(b, voff, vlen).toInt
                  else if (vid == IdPixelHeight) h = uintBody(b, voff, vlen).toInt
                }
              } else if (tid == IdAudio) {
                walk(b, toff, toff + tlen) { (aid, aoff, alen) =>
                  if (aid == IdSamplingFrequency)
                    rate = math.round(floatBody(b, aoff, alen)).toInt
                  else if (aid == IdChannels) ch = uintBody(b, aoff, alen).toInt
                }
              }
            }
            if (num < 0 || typ < 0 || codec == null)
              throw new IllegalStateException("TrackEntry missing number/type/codec")
            entries += ((num, typ, codec, w, h, ch, rate))
          }
        }
      }
    }
    if (nTracks == 0) return null
    // Duration ticks × scale ns / 1000 → exact micros; scale is ns so the
    // division only drops sub-microsecond precision
    val durUs =
      if (durTicks < 0) 0L else math.round(durTicks * (scaleNs / 1000.0))
    entries.result().map { case (num, typ, codec, w, h, ch, rate) =>
      val kind = typ match {
        case 1 => "video"
        case 2 => "audio"
        case 17 => "subtitle"
        case _ => "other"
      }
      MkvTrack(num, kind, codec, w, h, ch, rate, durUs)
    }
  }

  // ------------------------------------------------------ Cluster blocks

  private val IdCluster = 0x1F43B675L
  private val IdClusterTimestamp = 0xE7L
  private val IdSimpleBlock = 0xA3L

  private val MaxBlocks = 65536

  /** One SimpleBlock's frame payload: absolute byte range + the block's
    * absolute timestamp in TimestampScale ticks (cluster timestamp + the
    * block's signed 16-bit relative offset). */
  final case class MkvBlock(trackId: Int, tsTicks: Long, offset: Long,
      size: Int)

  /** Resolve every Cluster → SimpleBlock frame to its absolute byte range
    * — the EBML twin of [[VideoHeaders.parseSamples]]: compose with
    * `substring(media, offset + 1, size)` to slice real frame payloads
    * out of the binary column with no codec and no temp files. Null for
    * non-Matroska payloads, structural breaks, LACED blocks (lacing bits
    * ≠ 0 — multi-frame packing would need per-lace size decode; the
    * triage contract is route-to-null, never a partial answer), or more
    * than 65536 blocks. */
  def parseBlocks(b: Array[Byte]): Seq[MkvBlock] =
    try parseBlocks0(b)
    catch { case scala.util.control.NonFatal(_) => null }

  private def parseBlocks0(b: Array[Byte]): Seq[MkvBlock] = {
    if (b == null || b.length < 8) return null
    if (parseDocType0(b) == null) return null
    val hdr = vint(b, 0, b.length, keepMarker = true)
    val hsz = vint(b, hdr._2, b.length, keepMarker = false)
    val i = hdr._2 + hsz._2 + hsz._1.toInt
    val segId = vint(b, i, b.length, keepMarker = true)
    if (segId == null || segId._1 != IdSegment) return null
    val segSz = vint(b, i + segId._2, b.length, keepMarker = false)
    if (segSz == null) return null
    val segOff = i + segId._2 + segSz._2
    val segEnd =
      if (isUnknownSize(segSz._1, segSz._2)) b.length
      else {
        if (segSz._1 > (b.length - segOff).toLong) return null
        segOff + segSz._1.toInt
      }
    val out = Seq.newBuilder[MkvBlock]
    var n = 0
    walk(b, segOff, segEnd) { (id, off, len) =>
      if (id == IdCluster) {
        var clusterTs = 0L
        walk(b, off, off + len) { (cid, coff, clen) =>
          if (cid == IdClusterTimestamp) clusterTs = uintBody(b, coff, clen)
          else if (cid == IdSimpleBlock) {
            n += 1
            if (n > MaxBlocks)
              throw new IllegalStateException("block count over cap")
            // SimpleBlock: track (EBML vint, marker stripped), s16 BE
            // relative timestamp, flags, then the frame bytes
            val tr = vint(b, coff, coff + clen, keepMarker = false)
            if (tr == null) throw new IllegalStateException("bad block track")
            val hdrLen = tr._2 + 3
            if (clen < hdrLen) throw new IllegalStateException("short block")
            val rel = ((u(b, coff + tr._2) << 8) | u(b, coff + tr._2 + 1)).toShort
            val flags = u(b, coff + tr._2 + 2)
            if ((flags & 0x06) != 0)
              throw new IllegalStateException("laced block unsupported")
            out += MkvBlock(tr._1.toInt, clusterTs + rel,
              (coff + hdrLen).toLong, clen - hdrLen)
          }
        }
      }
    }
    if (n == 0) null else out.result()
  }

  // ------------------------------------------------------------- builder

  private def encId(id: Long): Array[Byte] = {
    var len = 1
    while ((id >> (8 * len)) != 0) len += 1
    Array.tabulate(len)(k => ((id >> (8 * (len - 1 - k))) & 0xff).toByte)
  }

  /** Minimal-length size encoding (never the all-ones "unknown" pattern). */
  private def encSize(v: Long): Array[Byte] = {
    require(v >= 0)
    var len = 1
    while (len < 8 && v >= (1L << (7 * len)) - 1) len += 1
    val out = new Array[Byte](len)
    out(0) = ((1 << (8 - len)) | ((v >> (8 * (len - 1))) & ((1 << (8 - len)) - 1))).toByte
    var k = 1
    while (k < len) { out(k) = ((v >> (8 * (len - 1 - k))) & 0xff).toByte; k += 1 }
    out
  }

  private def elem(id: Long, payload: Array[Byte]): Array[Byte] =
    encId(id) ++ encSize(payload.length.toLong) ++ payload

  private def uintB(v: Long): Array[Byte] = {
    require(v >= 0)
    var len = 1
    while ((v >> (8 * len)) != 0) len += 1
    Array.tabulate(len)(k => ((v >> (8 * (len - 1 - k))) & 0xff).toByte)
  }

  private def f64(v: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(v)
    Array.tabulate(8)(k => ((bits >> (8 * (7 - k))) & 0xff).toByte)
  }

  /** One track's build inputs; `kind` "video" or "audio". */
  final case class MkvTrackSpec(num: Int, kind: String, codec: String,
      width: Int = 0, height: Int = 0, channels: Int = 0, rate: Int = 0)

  /** A valid Matroska/WebM skeleton: EBML header (DocType) + Segment
    * (Info with TimestampScale/Duration, Tracks, and a Void element
    * standing in for Cluster data) — the deterministic inverse of
    * [[parseTracks]]. Duration is written as an 8-byte float, so integer
    * tick counts below 2^53 round-trip exactly. */
  def buildMkv(docType: String, scaleNs: Long, durTicks: Long,
      tracks: Seq[MkvTrackSpec], voidBytes: Int = 16): Array[Byte] = {
    require(tracks.nonEmpty && durTicks >= 0 && scaleNs > 0)
    val header = elem(IdEbml, elem(IdDocType, docType.getBytes("US-ASCII")))
    val info = elem(IdInfo,
      elem(IdTimestampScale, uintB(scaleNs)) ++
        elem(IdDuration, f64(durTicks.toDouble)))
    val trackEntries = tracks.map { t =>
      val typed = t.kind match {
        case "video" => elem(IdTrackType, uintB(1)) ++
          elem(IdVideo, elem(IdPixelWidth, uintB(t.width)) ++
            elem(IdPixelHeight, uintB(t.height)))
        case "audio" => elem(IdTrackType, uintB(2)) ++
          elem(IdAudio, elem(IdSamplingFrequency, f64(t.rate.toDouble)) ++
            elem(IdChannels, uintB(t.channels)))
        case "subtitle" => elem(IdTrackType, uintB(17)) // no typed child
        case other => throw new IllegalArgumentException(s"kind $other")
      }
      elem(IdTrackEntry,
        elem(IdTrackNumber, uintB(t.num)) ++ typed ++
          elem(IdCodecId, t.codec.getBytes("US-ASCII")))
    }.reduce(_ ++ _)
    val void = elem(IdVoid, Array.tabulate(voidBytes)(k => ((k * 11) % 251).toByte))
    header ++ elem(IdSegment, info ++ elem(IdTracks, trackEntries) ++ void)
  }

  /** One cluster's build input: its Timestamp plus no-lacing SimpleBlocks
    * as (trackNum, relativeTs, frameBytes). */
  final case class MkvClusterSpec(ts: Long, blocks: Seq[(Int, Int, Array[Byte])])

  /** [[buildMkv]] plus real Cluster/SimpleBlock media data — the
    * deterministic inverse of [[parseBlocks]]. */
  def buildMkvBlocks(docType: String, scaleNs: Long, durTicks: Long,
      tracks: Seq[MkvTrackSpec],
      clusters: Seq[MkvClusterSpec]): Array[Byte] = {
    require(clusters.nonEmpty)
    val skeleton = buildMkv(docType, scaleNs, durTicks, tracks, voidBytes = 8)
    // splice the clusters inside the Segment: rebuild with the segment
    // payload extended (the skeleton's segment is the last top-level
    // element, so re-wrap its body plus the clusters)
    val hdr = vint(skeleton, 0, skeleton.length, keepMarker = true)
    val hsz = vint(skeleton, hdr._2, skeleton.length, keepMarker = false)
    val headerBytes = skeleton.take(hdr._2 + hsz._2 + hsz._1.toInt)
    val segAt = headerBytes.length
    val segId = vint(skeleton, segAt, skeleton.length, keepMarker = true)
    val segSz = vint(skeleton, segAt + segId._2, skeleton.length, keepMarker = false)
    val segBody = skeleton.drop(segAt + segId._2 + segSz._2)
    val clusterBytes = clusters.map { c =>
      require(c.blocks.nonEmpty)
      val blocks = c.blocks.map { case (trackNum, relTs, frame) =>
        require(relTs >= Short.MinValue && relTs <= Short.MaxValue)
        elem(IdSimpleBlock,
          encSize(trackNum.toLong) ++
            Array(((relTs >> 8) & 0xff).toByte, (relTs & 0xff).toByte,
              0x80.toByte) ++ // keyframe, no lacing
            frame)
      }.reduce(_ ++ _)
      elem(IdCluster, elem(IdClusterTimestamp, uintB(c.ts)) ++ blocks)
    }.reduce(_ ++ _)
    headerBytes ++ elem(IdSegment, segBody ++ clusterBytes)
  }
}

/** `mkv_tracks(binary)` → `array<struct<track_id int, kind string,
  * codec string, width int, height int, channels int, sample_rate int,
  * duration_us long>>` for Matroska/WebM payloads; null otherwise — the
  * EBML twin of `video_tracks`, same codegen posture. */
case class MkvTracks(child: Expression)
    extends BinaryCodecExpression("mkv_tracks", MkvTracks.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val tracks = Mkv.parseTracks(payload.asInstanceOf[Array[Byte]])
    if (tracks == null) null
    else new GenericArrayData(tracks.map(t =>
      InternalRow(t.trackId, UTF8String.fromString(t.kind),
        UTF8String.fromString(t.codec), t.width, t.height, t.channels,
        t.sampleRate, t.durationUs)).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): MkvTracks =
    copy(child = newChild)
}

object MkvTracks {
  val trackType: StructType = StructType(Seq(
    StructField("track_id", IntegerType),
    StructField("kind", StringType),
    StructField("codec", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("duration_us", LongType)))
  val resultType: DataType = ArrayType(trackType, containsNull = false)

  def mkvTracks(media: Column): Column =
    GraftColumnShim.column(MkvTracks(GraftColumnShim.expression(media)))
}

/** `mkv_blocks(binary)` → `array<struct<track_id int, ts_ticks long,
  * offset long, size int>>`: every Cluster/SimpleBlock frame's absolute
  * byte range and timestamp — the EBML twin of `video_samples`. Compose
  * with `substring(media, offset + 1, size)` to slice real frame payloads
  * out of a WebM binary column (MJPEG-shaped tracks then decode with
  * `jpeg_pixels`, zero codec libraries — x145's gate). */
case class MkvBlocks(child: Expression)
    extends BinaryCodecExpression("mkv_blocks", MkvBlocks.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val blocks = Mkv.parseBlocks(payload.asInstanceOf[Array[Byte]])
    if (blocks == null) null
    else new GenericArrayData(blocks.map(x =>
      InternalRow(x.trackId, x.tsTicks, x.offset, x.size)).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): MkvBlocks =
    copy(child = newChild)
}

object MkvBlocks {
  val blockType: StructType = StructType(Seq(
    StructField("track_id", IntegerType),
    StructField("ts_ticks", LongType),
    StructField("offset", LongType),
    StructField("size", IntegerType)))
  val resultType: DataType = ArrayType(blockType, containsNull = false)

  def mkvBlocks(media: Column): Column =
    GraftColumnShim.column(MkvBlocks(GraftColumnShim.expression(media)))
}
