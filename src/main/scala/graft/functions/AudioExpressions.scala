package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free WAV (RIFF) header parsing — the audio face of the
  * multimodal pillar's honest in-container capability (cf.
  * [[ImageHeaders]] for images). The RIFF chunk walk, PCM `fmt ` fields,
  * and `data` size are read straight off the public container layout;
  * only sample decode stays behind the multimodal stub.
  */
object AudioHeaders {
  /** (codec, channels, sample_rate, bits, duration_us), or null when the
    * payload is not a RIFF/WAVE container with a PCM fmt chunk. Duration
    * is exact integer micros: dataBytes * 8e6 / (rate * channels * bits).
    */
  def parseWav(b: Array[Byte]): (String, Int, Int, Int, Long) = {
    if (b == null || b.length < 44) return null
    if (!(tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE")) return null
    var channels = -1; var rate = -1; var bits = -1; var fmtCode = -1
    var dataSize = -1L
    var i = 12
    // RIFF chunk walk; chunks are word-aligned (odd sizes carry a pad byte)
    while (i + 8 <= b.length && (channels < 0 || dataSize < 0)) {
      val id = tag(b, i)
      val len = le32(b, i + 4)
      if (len < 0) return null
      if (id == "fmt " && i + 8 + 16 <= b.length) {
        fmtCode = le16(b, i + 8)
        channels = le16(b, i + 10)
        rate = le32(b, i + 12)
        bits = le16(b, i + 22)
      } else if (id == "data") {
        // size field is authoritative even if the body is truncated/absent
        dataSize = len.toLong
      }
      // cursor arithmetic in Long: a crafted chunk declaring len near 2^31
      // must not wrap i negative (index crash) — a declared size past the
      // buffer end means this is the last walkable chunk
      val next = i.toLong + 8L + len.toLong + (len & 1).toLong
      i = if (next > b.length.toLong) b.length else next.toInt
    }
    val codec = fmtCode match {
      case 1 => "pcm"
      case 6 if bits == 8 => "alaw" // G.711 A-law
      case 7 if bits == 8 => "ulaw" // G.711 mu-law
      case _ => null
    }
    if (codec == null || channels <= 0 || rate <= 0 || bits <= 0 || dataSize < 0) null
    else (codec, channels, rate, bits,
      dataSize * 8000000L / (rate.toLong * channels * bits))
  }

  private def u(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def tag(b: Array[Byte], i: Int): String =
    if (i + 4 > b.length) "" else new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
  private def le16(b: Array[Byte], i: Int): Int = u(b, i) | (u(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    u(b, i) | (u(b, i + 1) << 8) | (u(b, i + 2) << 16) | (u(b, i + 3) << 24)

  private def le16b(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32b(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** REAL sample decode for RIFF/WAVE PCM payloads:
    * (n_samples, peak, sum_sq, n_clip), or null when the container is not
    * PCM with 8- or 16-bit samples. 8-bit WAV samples are unsigned with
    * amplitude v − 128; 16-bit are signed little-endian. `peak` is the max
    * absolute amplitude, `sum_sq` the exact integer energy Σa², `n_clip`
    * the count of full-scale samples (0/255 resp. ±32768/32767) — every
    * field integer-exact so an oracle reproduces them arithmetically. A
    * data chunk declaring more bytes than the buffer holds is decoded up
    * to the buffer end (truncated uploads degrade, not crash). */
  /** G.711 mu-law expansion (ITU-T G.711 / the classic Sun ulaw2linear
    * table formula): code → 14-bit linear, |sample| ≤ 32124. Exact
    * integer arithmetic, so an oracle reproduces it in SQL. */
  def ulawToLinear(code: Int): Int = {
    val u = (~code) & 0xff
    val exp = (u >> 4) & 7
    val mant = u & 0xf
    val mag = (132 << exp) - 132 + (mant << (exp + 3))
    if ((u & 0x80) != 0) -mag else mag
  }

  /** G.711 A-law expansion (alaw2linear): code → 13-bit linear,
    * |sample| ≤ 32256. Sign bit SET means positive in A-law. */
  def alawToLinear(code: Int): Int = {
    val a = code ^ 0x55
    val seg = (a >> 4) & 7
    val mant = a & 0xf
    val t =
      if (seg == 0) (mant << 4) + 8
      else ((mant << 4) + 0x108) << (seg - 1)
    if ((a & 0x80) != 0) t else -t
  }

  def parsePcmStats(b: Array[Byte]): (Long, Int, Long, Long) = {
    if (b == null || b.length < 44) return null
    if (!(tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE")) return null
    var bits = -1; var fmtCode = -1
    var dataOff = -1; var dataLen = -1
    var i = 12
    while (i + 8 <= b.length && (bits < 0 || dataOff < 0)) {
      val id = tag(b, i)
      val len = le32(b, i + 4)
      if (len < 0) return null
      if (id == "fmt " && i + 8 + 16 <= b.length) {
        fmtCode = le16(b, i + 8)
        bits = le16(b, i + 22)
      } else if (id == "data") {
        dataOff = i + 8
        dataLen = math.min(len.toLong, (b.length - dataOff).toLong).toInt
      }
      val next = i.toLong + 8L + len.toLong + (len & 1).toLong
      i = if (next > b.length.toLong) b.length else next.toInt
    }
    val g711 = fmtCode == 6 || fmtCode == 7
    if (dataOff < 0) return null
    if (!g711 && (fmtCode != 1 || (bits != 8 && bits != 16))) return null
    if (g711 && bits != 8) return null
    var n = 0L; var peak = 0; var sumSq = 0L; var clip = 0L
    if (g711) {
      // G.711 bytes expand to 13/14-bit linear; clip = full-scale codes
      val fullScale = if (fmtCode == 7) 32124 else 32256
      var j = dataOff; val end = dataOff + dataLen
      while (j < end) {
        val a = if (fmtCode == 7) ulawToLinear(u(b, j)) else alawToLinear(u(b, j))
        val abs = if (a < 0) -a else a
        if (abs > peak) peak = abs
        sumSq += a.toLong * a
        if (abs == fullScale) clip += 1
        n += 1; j += 1
      }
    } else if (bits == 8) {
      var j = dataOff; val end = dataOff + dataLen
      while (j < end) {
        val v = u(b, j)
        val a = v - 128
        val abs = if (a < 0) -a else a
        if (abs > peak) peak = abs
        sumSq += a.toLong * a
        if (v == 0 || v == 255) clip += 1
        n += 1; j += 1
      }
    } else {
      var j = dataOff; val end = dataOff + dataLen - 1
      while (j < end) {
        val s = (le16(b, j) << 16) >> 16 // sign-extend
        val abs = if (s < 0) -s else s
        if (abs > peak) peak = abs
        sumSq += s.toLong * s
        if (s == 32767 || s == -32768) clip += 1
        n += 1; j += 2
      }
    }
    (n, peak, sumSq, clip)
  }

  /** Windowed PCM frame features — the segmentation/VAD primitive: the
    * `data` chunk split into frames of `frameSamples` samples, each
    * reduced to integer-exact (n, peak, Σa²) like [[parsePcmStats]] does
    * for the whole payload. Returns (frame_idx, n, peak, sum_sq) per
    * frame (the tail frame may be short); null unless the payload is a
    * PCM/G.711 RIFF container the stats parser accepts. */
  def parsePcmFrames(b: Array[Byte], frameSamples: Int)
      : Seq[(Int, Long, Int, Long)] = {
    if (frameSamples <= 0) return null
    if (b == null || b.length < 44) return null
    if (!(tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE")) return null
    var bits = -1; var fmtCode = -1
    var dataOff = -1; var dataLen = -1
    var i = 12
    while (i + 8 <= b.length && (bits < 0 || dataOff < 0)) {
      val id = tag(b, i)
      val len = le32(b, i + 4)
      if (len < 0) return null
      if (id == "fmt " && i + 8 + 16 <= b.length) {
        fmtCode = le16(b, i + 8)
        bits = le16(b, i + 22)
      } else if (id == "data") {
        dataOff = i + 8
        dataLen = math.min(len.toLong, (b.length - dataOff).toLong).toInt
      }
      val next = i.toLong + 8L + len.toLong + (len & 1).toLong
      i = if (next > b.length.toLong) b.length else next.toInt
    }
    val g711 = fmtCode == 6 || fmtCode == 7
    if (dataOff < 0) return null
    if (!g711 && (fmtCode != 1 || (bits != 8 && bits != 16))) return null
    if (g711 && bits != 8) return null
    val bytesPer = if (!g711 && bits == 16) 2 else 1
    val nSamples = dataLen / bytesPer
    val out = Seq.newBuilder[(Int, Long, Int, Long)]
    var s = 0
    var f = 0
    while (s < nSamples) {
      val end = math.min(s + frameSamples, nSamples)
      var peak = 0; var sumSq = 0L
      var j = s
      while (j < end) {
        val a =
          if (g711 && fmtCode == 7) ulawToLinear(u(b, dataOff + j))
          else if (g711) alawToLinear(u(b, dataOff + j))
          else if (bits == 8) u(b, dataOff + j) - 128
          else (le16(b, dataOff + 2 * j) << 16) >> 16
        val abs = if (a < 0) -a else a
        if (abs > peak) peak = abs
        sumSq += a.toLong * a
        j += 1
      }
      out += ((f, (end - s).toLong, peak, sumSq))
      f += 1
      s = end
    }
    out.result()
  }

  /** A valid PCM WAV container around `body` (the deterministic inverse of
    * [[parseWav]] for the header part). */
  def buildWav(channels: Int, rate: Int, bits: Int, body: Array[Byte],
      fmtCode: Int = 1): Array[Byte] = {
    val byteRate = rate * channels * bits / 8
    val blockAlign = channels * bits / 8
    "RIFF".getBytes ++ le32b(36 + body.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32b(16) ++ le16b(fmtCode) ++ le16b(channels) ++
      le32b(rate) ++ le32b(byteRate) ++ le16b(blockAlign) ++ le16b(bits) ++
      "data".getBytes ++ le32b(body.length) ++ body
  }

  // ---------------------------------------------------------------- FLAC

  private def be24(b: Array[Byte], i: Int): Int =
    (u(b, i) << 16) | (u(b, i + 1) << 8) | u(b, i + 2)

  /** FLAC STREAMINFO parse (the public xiph format spec): `fLaC` magic,
    * metadata-block walk to block type 0, then the packed 64-bit field
    * carrying sample rate (20 bits), channels−1 (3), bits−1 (5), total
    * samples (36) — EXACT duration with no frame decode. Same tuple shape
    * as [[parseWav]]; null for non-FLAC/malformed. */
  def parseFlac(b: Array[Byte]): (String, Int, Int, Int, Long) = {
    if (b == null || b.length < 4 + 4 + 34) return null
    if (tag(b, 0) != "fLaC") return null
    var i = 4
    var guard = 0
    while (i + 4 <= b.length && guard < 128) {
      val hdr = u(b, i)
      val last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = be24(b, i + 1)
      if (i.toLong + 4 + len > b.length) return null
      if (typ == 0) { // STREAMINFO
        if (len < 34) return null
        val o = i + 4
        // packed fields start 10 bytes in (after block/frame size ranges)
        val rate = (u(b, o + 10) << 12) | (u(b, o + 11) << 4) | (u(b, o + 12) >> 4)
        val channels = ((u(b, o + 12) >> 1) & 7) + 1
        val bits = (((u(b, o + 12) & 1) << 4) | (u(b, o + 13) >> 4)) + 1
        val total = ((u(b, o + 13) & 0xf).toLong << 32) |
          ((u(b, o + 14).toLong << 24) | (u(b, o + 15) << 16) |
            (u(b, o + 16) << 8) | u(b, o + 17)) & 0xffffffffL
        if (rate <= 0) return null
        return ("flac", channels, rate, bits, total * 1000000L / rate)
      }
      if (last) return null // STREAMINFO must exist (and come first per spec)
      i += 4 + len
      guard += 1
    }
    null
  }

  /** Minimal valid FLAC: magic + last-flagged STREAMINFO + opaque body.
    * `minBlock`/`maxBlock` must reflect the actual frame block sizes when
    * a body follows (RFC 9639 §8.2) — [[FlacCodec.encode]] passes them;
    * header-only fixtures keep the 4096 default. */
  def buildFlac(channels: Int, rate: Int, bits: Int, totalSamples: Long,
      body: Array[Byte], minBlock: Int = 4096, maxBlock: Int = 4096): Array[Byte] = {
    require(channels >= 1 && channels <= 8 && bits >= 4 && bits <= 32)
    require(rate > 0 && rate < (1 << 20) && totalSamples >= 0 && totalSamples < (1L << 36))
    require(minBlock >= 16 && maxBlock <= 65535 && minBlock <= maxBlock)
    val info = new Array[Byte](34)
    // min/max blocksize in samples, frame sizes 0 (unknown)
    info(0) = ((minBlock >> 8) & 0xff).toByte; info(1) = (minBlock & 0xff).toByte
    info(2) = ((maxBlock >> 8) & 0xff).toByte; info(3) = (maxBlock & 0xff).toByte
    info(10) = ((rate >> 12) & 0xff).toByte
    info(11) = ((rate >> 4) & 0xff).toByte
    info(12) = (((rate & 0xf) << 4) | ((channels - 1) << 1) |
      (((bits - 1) >> 4) & 1)).toByte
    info(13) = ((((bits - 1) & 0xf) << 4) | ((totalSamples >> 32) & 0xf).toInt).toByte
    info(14) = ((totalSamples >> 24) & 0xff).toByte
    info(15) = ((totalSamples >> 16) & 0xff).toByte
    info(16) = ((totalSamples >> 8) & 0xff).toByte
    info(17) = (totalSamples & 0xff).toByte
    // bytes 18..33: MD5 of unencoded audio — zeros (unknown) is legal
    "fLaC".getBytes ++ Array[Byte](0x80.toByte, 0, 0, 34) ++ info ++ body
  }

  // ----------------------------------------------------------------- MP3

  // MPEG-1 Layer III bitrates (kbps) by header index (ISO 11172-3 table)
  private val Mp3Bitrates =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3Rates = Array(44100, 48000, 32000)

  /** MPEG-1 Layer III parse by FRAME WALK (public ISO 11172-3 header
    * layout): skip an ID3v2 tag (syncsafe size), then count frames —
    * frameLen = 144·bitrate/rate + padding, 1152 samples per frame — so
    * duration is exact for CBR and VBR alike, no decode. Channels from the
    * mode field; `bits` reported 0 (not a PCM notion). Up to 64 KiB of
    * leading junk after the (optional) tag is skipped by a bounded forward
    * resync to the first frame sync; after the first frame, junk (e.g. an
    * ID3v1 `TAG` trailer) ends the walk. Null unless at least one valid
    * frame is found. */
  def parseMp3(b: Array[Byte]): (String, Int, Int, Int, Long) = {
    if (b == null || b.length < 4) return null
    var i = 0
    // ID3v2: "ID3" ver(2) flags(1) syncsafe size(4)
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val size = ((u(b, 6) & 0x7f) << 21) | ((u(b, 7) & 0x7f) << 14) |
        ((u(b, 8) & 0x7f) << 7) | (u(b, 9) & 0x7f)
      i = 10 + size
      if (i >= b.length) return null
    }
    // bounded forward resync: streams clipped mid-frame or prefixed with
    // junk start at the first real sync word, not necessarily byte 0. A
    // resync'd stream must then walk ≥2 valid frames — one sync word found
    // mid-junk is too weak a magic to classify arbitrary bytes as MP3.
    val afterTag = i
    val resyncEnd = math.min(b.length - 4, i + 65536)
    while (i <= resyncEnd &&
        !(u(b, i) == 0xff && (u(b, i + 1) & 0xe0) == 0xe0)) i += 1
    val skipped = i != afterTag
    def finish(frames: Long, rate: Int, channels: Int)
        : (String, Int, Int, Int, Long) =
      if (frames == 0 || (skipped && frames < 2)) null
      else done(frames, rate, channels)
    var frames = 0L
    var rate = -1
    var channels = -1
    while (i + 4 <= b.length) {
      if (u(b, i) != 0xff || (u(b, i + 1) & 0xe0) != 0xe0) {
        // junk after the first frame ends the walk (ID3v1 trailer, padding)
        return finish(frames, rate, channels)
      }
      val version = (u(b, i + 1) >> 3) & 3
      val layer = (u(b, i + 1) >> 1) & 3
      if (version != 3 || layer != 1) return null // MPEG-1 Layer III only
      val brIdx = (u(b, i + 2) >> 4) & 0xf
      val srIdx = (u(b, i + 2) >> 2) & 3
      val padding = (u(b, i + 2) >> 1) & 1
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return null
      val r = Mp3Rates(srIdx)
      if (rate < 0) rate = r else if (rate != r) return null
      val mode = (u(b, i + 3) >> 6) & 3
      val ch = if (mode == 3) 1 else 2
      if (channels < 0) channels = ch
      val frameLen = 144 * (Mp3Bitrates(brIdx) * 1000) / r + padding
      if (frameLen <= 4) return null
      frames += 1
      i += frameLen
    }
    finish(frames, rate, channels)
  }

  private def done(frames: Long, rate: Int, channels: Int)
      : (String, Int, Int, Int, Long) =
    ("mp3", channels, rate, 0, frames * 1152L * 1000000L / rate)

  /** Deterministic CBR MPEG-1 Layer III stream: `nFrames` frames at the
    * given bitrate/rate indices (padding 0, body bytes formulaic), with an
    * optional leading ID3v2 tag. */
  def buildMp3(brIdx: Int, srIdx: Int, nFrames: Int, mono: Boolean = false,
      id3Bytes: Int = 0): Array[Byte] = {
    require(brIdx >= 1 && brIdx <= 14 && srIdx >= 0 && srIdx <= 2 && nFrames >= 1)
    val out = new java.io.ByteArrayOutputStream()
    if (id3Bytes > 0) {
      require(id3Bytes < (1 << 21))
      out.write("ID3".getBytes)
      out.write(4); out.write(0); out.write(0) // version + flags
      out.write((id3Bytes >> 21) & 0x7f); out.write((id3Bytes >> 14) & 0x7f)
      out.write((id3Bytes >> 7) & 0x7f); out.write(id3Bytes & 0x7f)
      var k = 0
      while (k < id3Bytes) { out.write(k % 251); k += 1 }
    }
    val frameLen = 144 * (Mp3Bitrates(brIdx) * 1000) / Mp3Rates(srIdx)
    var f = 0
    while (f < nFrames) {
      out.write(0xff); out.write(0xfb) // sync + MPEG1 + Layer III + no CRC
      out.write((brIdx << 4) | (srIdx << 2)) // padding 0, private 0
      out.write(if (mono) 0xc0 else 0x00) // mode
      var k = 4
      while (k < frameLen) { out.write((f * 31 + k) % 251); k += 1 }
      f += 1
    }
    out.toByteArray
  }

  // ------------------------------------------------------------ ADTS/AAC

  // ISO 14496-3 §1.6.3.4 sampling_frequency_index table
  private val AdtsRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** AAC-in-ADTS parse by FRAME WALK (public ISO 14496-3 §1.A.2 header
    * layout): skip an ID3v2 tag, then walk 7-byte headers — syncword
    * 0xFFF + layer 00, `frame_length` covers header+payload, each frame
    * carries `number_of_raw_data_blocks + 1` blocks of 1024 samples — so
    * duration is exact with no decode, CBR and VBR alike. Channels from
    * `channel_configuration` (0 = PCE-defined → rejected); `bits` is 0
    * (not a PCM notion). Junk after the first frame (ID3v1 `TAG` trailer,
    * padding) ends the walk; null unless ≥1 valid frame leads the
    * post-tag stream. */
  def parseAdts(b: Array[Byte]): (String, Int, Int, Int, Long) = {
    if (b == null || b.length < 7) return null
    var i = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val size = ((u(b, 6) & 0x7f) << 21) | ((u(b, 7) & 0x7f) << 14) |
        ((u(b, 8) & 0x7f) << 7) | (u(b, 9) & 0x7f)
      i = 10 + size
      if (i >= b.length) return null
    }
    var frames = 0L
    var blocks = 0L
    var rate = -1
    var channels = -1
    while (i + 7 <= b.length) {
      // sync 0xFFF + layer 00 (the layer bits are what separate ADTS from
      // an MPEG audio frame header, whose layer is nonzero)
      if (u(b, i) != 0xff || (u(b, i + 1) & 0xf6) != 0xf0) {
        if (frames > 0) return doneAdts(blocks, rate, channels)
        return null
      }
      val srIdx = (u(b, i + 2) >> 2) & 0xf
      if (srIdx >= AdtsRates.length) return null
      val r = AdtsRates(srIdx)
      if (rate < 0) rate = r else if (rate != r) return null
      val cfg = ((u(b, i + 2) & 1) << 2) | (u(b, i + 3) >> 6)
      if (cfg == 0) return null // channel config 0 = in-payload PCE
      val ch = if (cfg == 7) 8 else cfg // config 7 = 7.1 → eight channels
      if (channels < 0) channels = ch else if (channels != ch) return null
      val frameLen = ((u(b, i + 3) & 3) << 11) | (u(b, i + 4) << 3) |
        (u(b, i + 5) >> 5)
      if (frameLen < 7) return null
      blocks += (u(b, i + 6) & 3) + 1
      frames += 1
      i += frameLen
    }
    if (frames == 0) null else doneAdts(blocks, rate, channels)
  }

  private def doneAdts(blocks: Long, rate: Int, channels: Int)
      : (String, Int, Int, Int, Long) =
    ("aac", channels, rate, 0, blocks * 1024L * 1000000L / rate)

  /** Deterministic ADTS stream: `nFrames` frames (protection absent,
    * `blocksPerFrame` raw-data blocks each, formulaic body bytes), with an
    * optional leading ID3v2 tag and optional trailing ID3v1 `TAG` block. */
  def buildAdts(srIdx: Int, channels: Int, nFrames: Int, bodyBytes: Int = 64,
      blocksPerFrame: Int = 1, id3Bytes: Int = 0,
      id3v1: Boolean = false): Array[Byte] = {
    require(srIdx >= 0 && srIdx < AdtsRates.length)
    require(channels >= 1 && channels <= 7 && nFrames >= 1)
    require(blocksPerFrame >= 1 && blocksPerFrame <= 4)
    val out = new java.io.ByteArrayOutputStream()
    if (id3Bytes > 0) {
      require(id3Bytes < (1 << 21))
      out.write("ID3".getBytes)
      out.write(4); out.write(0); out.write(0)
      out.write((id3Bytes >> 21) & 0x7f); out.write((id3Bytes >> 14) & 0x7f)
      out.write((id3Bytes >> 7) & 0x7f); out.write(id3Bytes & 0x7f)
      var k = 0
      while (k < id3Bytes) { out.write(k % 251); k += 1 }
    }
    val frameLen = 7 + bodyBytes
    var f = 0
    while (f < nFrames) {
      out.write(0xff); out.write(0xf1) // sync + MPEG-4 + layer 00 + no CRC
      out.write((1 << 6) | (srIdx << 2) | (channels >> 2)) // AAC-LC profile
      out.write(((channels & 3) << 6) | ((frameLen >> 11) & 3))
      out.write((frameLen >> 3) & 0xff)
      out.write(((frameLen & 7) << 5) | 0x1f) // buffer fullness 0x7FF (VBR)
      out.write((0x3f << 2) | (blocksPerFrame - 1))
      var k = 7
      while (k < frameLen) { out.write((f * 37 + k) % 251); k += 1 }
      f += 1
    }
    if (id3v1) {
      out.write("TAG".getBytes)
      var k = 3
      while (k < 128) { out.write((k * 5) % 127); k += 1 }
    }
    out.toByteArray
  }

  // ------------------------------------------------------------- Ogg/Opus

  /** Ogg page CRC-32 (RFC 3533 appendix A: poly 0x04C11DB7, init 0, no
    * reflection, no final xor), computed with the CRC field zeroed. */
  private val OggCrcTable: Array[Int] = Array.tabulate(256) { n =>
    var r = n << 24
    var i = 0
    while (i < 8) {
      r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
      i += 1
    }
    r
  }
  private def oggCrc(b: Array[Byte], from: Int, len: Int, crcAt: Int): Int = {
    var crc = 0
    var i = from
    while (i < from + len) {
      val v = if (i >= crcAt && i < crcAt + 4) 0 else u(b, i)
      crc = (crc << 8) ^ OggCrcTable(((crc >>> 24) ^ v) & 0xff)
      i += 1
    }
    crc
  }

  private def le64(b: Array[Byte], i: Int): Long =
    (le32(b, i).toLong & 0xffffffffL) | (le32(b, i + 4).toLong << 32)

  /** Ogg/Opus parse (RFC 3533 page layout + RFC 7845 OpusHead): the FIRST
    * page's first packet carries channels/pre-skip/input rate; the LAST
    * page's granule position (48 kHz samples) minus pre-skip is the exact
    * duration — found by a bounded backward scan for the final `OggS`.
    * `sample_rate` reports the informational input rate (Opus always
    * decodes at 48 kHz); `bits` is 0 (not a PCM notion). */
  def parseOpus(b: Array[Byte]): (String, Int, Int, Int, Long) = {
    if (b == null || b.length < 28 + 1 + 19) return null
    if (tag(b, 0) != "OggS" || u(b, 4) != 0) return null
    val nsegs = u(b, 26)
    val payloadAt = 27 + nsegs
    if (payloadAt + 8 > b.length) return null
    if (new String(b, payloadAt, 8, java.nio.charset.StandardCharsets.US_ASCII)
        != "OpusHead") return null
    if (payloadAt + 19 > b.length) return null
    if (u(b, payloadAt + 8) != 1) return null // OpusHead version
    val channels = u(b, payloadAt + 9)
    val preSkip = le16(b, payloadAt + 10)
    val inputRate = le32(b, payloadAt + 12)
    if (channels < 1) return null
    // last page: backward scan for the final OggS capture (bounded). A
    // candidate only counts once its RFC 3533 CRC verifies over the full
    // page (header + lacing + payload) — payload bytes that happen to spell
    // "OggS" must not false-sync into a wrong granule; on mismatch the scan
    // falls back to the next earlier match.
    var at = -1
    var i = b.length - 27
    var scanned = 0
    while (at < 0 && i >= 0 && scanned < (1 << 20)) {
      if (b(i) == 'O' && tag(b, i) == "OggS" && u(b, i + 4) == 0) {
        val ns = u(b, i + 26)
        if (i + 27 + ns <= b.length) {
          var pageLen = 27 + ns
          var s = 0
          while (s < ns) { pageLen += u(b, i + 27 + s); s += 1 }
          if (i + pageLen <= b.length &&
              oggCrc(b, i, pageLen, i + 22) == le32(b, i + 22)) at = i
        }
      }
      i -= 1
      scanned += 1
    }
    if (at < 0) return null
    val granule = le64(b, at + 6)
    if (granule < preSkip) return null
    val samples = granule - preSkip // 48 kHz sample count by definition
    val rate = if (inputRate > 0) inputRate else 48000
    ("opus", channels, rate, 0, samples * 1000000L / 48000L)
  }

  /** A valid two-page Ogg/Opus stream (BOS page carrying OpusHead, EOS
    * page carrying `granule = preSkip + nSamples` over an opaque packet),
    * with REAL page CRCs. */
  def buildOpus(channels: Int, preSkip: Int, inputRate: Int,
      nSamples: Long, body: Array[Byte]): Array[Byte] = {
    require(channels >= 1 && channels <= 8 && preSkip >= 0 && preSkip < 65536)
    require(body.nonEmpty && body.length < 255)
    def page(headerType: Int, granule: Long, seq: Int,
        payload: Array[Byte]): Array[Byte] = {
      val out = "OggS".getBytes ++ Array[Byte](0, headerType.toByte) ++
        Array.tabulate(8)(k => ((granule >> (8 * k)) & 0xff).toByte) ++
        le32b(0x6772616f) /* serial */ ++ le32b(seq) ++ le32b(0) /* crc */ ++
        Array(1.toByte, payload.length.toByte) ++ payload
      val crc = oggCrc(out, 0, out.length, 22)
      System.arraycopy(le32b(crc), 0, out, 22, 4)
      out
    }
    val head = "OpusHead".getBytes ++ Array[Byte](1, channels.toByte) ++
      le16b(preSkip) ++ le32b(inputRate) ++ le16b(0) ++ Array[Byte](0)
    page(0x02, 0L, 0, head) ++
      page(0x04, preSkip.toLong + nSamples, 1, body)
  }

  /** The audio-triage dispatch: WAV → FLAC → Ogg/Opus → ADTS/AAC → MP3
    * (the frame-sync formats last — their magics are the loosest; ADTS and
    * MP3 are mutually exclusive on the header's layer bits), one struct
    * shape. */
  def parse(b: Array[Byte]): (String, Int, Int, Int, Long) = {
    val wav = parseWav(b)
    if (wav != null) return wav
    val flac = parseFlac(b)
    if (flac != null) return flac
    val opus = parseOpus(b)
    if (opus != null) return opus
    val aac = parseAdts(b)
    if (aac != null) return aac
    parseMp3(b)
  }
}

/** `audio_header(binary)` → `struct<codec string, channels int,
  * sample_rate int, bits int, duration_us long>` for WAV (PCM/G.711),
  * FLAC (STREAMINFO), Ogg/Opus (RFC 3533 page walk + RFC 7845 OpusHead,
  * CRC-verified), AAC-in-ADTS (frame walk) and MPEG-1 Layer III (frame
  * walk) payloads; null otherwise. Codegen'd Catalyst expression — audio
  * triage of a binary column stays inside whole-stage codegen, same
  * posture as `image_header`. */
case class AudioHeader(child: Expression)
    extends BinaryCodecExpression("audio_header", AudioHeader.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val parsed = AudioHeaders.parse(payload.asInstanceOf[Array[Byte]])
    if (parsed == null) null
    else InternalRow(UTF8String.fromString(parsed._1), parsed._2, parsed._3,
      parsed._4, parsed._5)
  }

  override protected def withNewChildInternal(newChild: Expression): AudioHeader =
    copy(child = newChild)
}

object AudioHeader {
  val resultType: StructType = StructType(Seq(
    StructField("codec", StringType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bits", IntegerType),
    StructField("duration_us", LongType)))

  def audioHeader(media: Column): Column =
    GraftColumnShim.column(AudioHeader(GraftColumnShim.expression(media)))
}

/** `pcm_stats(binary)` → `struct<n_samples long, peak int, sum_sq long,
  * n_clip long>`, null unless the payload is a RIFF/WAVE PCM container
  * with 8- or 16-bit samples. REAL sample decode (PCM needs no codec
  * library) running inside whole-stage codegen — with [[BmpPixels]] this
  * shrinks the multimodal stub to formats whose bodies genuinely need a
  * codec. */
case class PcmStats(child: Expression)
    extends BinaryCodecExpression("pcm_stats", PcmStats.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val p = AudioHeaders.parsePcmStats(payload.asInstanceOf[Array[Byte]])
    if (p == null) null
    else InternalRow(p._1, p._2, p._3, p._4)
  }

  override protected def withNewChildInternal(newChild: Expression): PcmStats =
    copy(child = newChild)
}

object PcmStats {
  val resultType: StructType = StructType(Seq(
    StructField("n_samples", LongType),
    StructField("peak", IntegerType),
    StructField("sum_sq", LongType),
    StructField("n_clip", LongType)))

  def pcmStats(media: Column): Column =
    GraftColumnShim.column(PcmStats(GraftColumnShim.expression(media)))
}

/** `pcm_frames(binary, frame_samples)` → `array<struct<frame_idx int,
  * n long, peak int, sum_sq long>>`: the payload's PCM/G.711 samples cut
  * into fixed windows with integer-exact per-window energy/peak — the
  * segmentation/VAD primitive (explode → per-frame rows → threshold,
  * boundary detection, silence trimming, all as ordinary SQL over exact
  * integers). Null for non-PCM payloads or a non-positive frame size. */
case class PcmFrames(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = PcmFrames.resultType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pcm_frames expects (binary, int), got $other")
    }

  override def nullSafeEval(payload: Any, frame: Any): Any = {
    val frames = AudioHeaders.parsePcmFrames(
      payload.asInstanceOf[Array[Byte]], frame.asInstanceOf[Int])
    if (frames == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      frames.map(f => InternalRow(f._1, f._2, f._3, f._4)).toArray[Any])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pcmFrames", this, classOf[PcmFrames].getName)
    val r = ctx.freshName("pcmFr")
    nullSafeCodeGen(ctx, ev, (b, f) => {
      s"""
         |Object $r = $self.nullSafeEval($b, $f);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PcmFrames =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "pcm_frames"
}

object PcmFrames {
  val frameType: StructType = StructType(Seq(
    StructField("frame_idx", IntegerType),
    StructField("n", LongType),
    StructField("peak", IntegerType),
    StructField("sum_sq", LongType)))
  val resultType: DataType = ArrayType(frameType, containsNull = false)

  def pcmFrames(media: Column, frameSamples: Column): Column =
    GraftColumnShim.column(PcmFrames(
      GraftColumnShim.expression(media),
      GraftColumnShim.expression(frameSamples)))
}
