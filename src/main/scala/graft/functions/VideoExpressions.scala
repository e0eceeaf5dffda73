package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free MP4 (ISO BMFF) header parsing — the video face of the
  * multimodal container trio ([[ImageHeaders]], [[AudioHeaders]]). Walks
  * the top-level box chain to `ftyp` (major brand) and into `moov` to
  * `mvhd` (movie timescale + duration), per the public ISO 14496-12
  * layout; duration surfaces as exact integer micros. [[parseTracks]] goes
  * further: per-track sample tables (stsd/stts/stsz/stsc/stco) give real
  * sample counts, byte totals, and duration-weighted bitrates with no
  * codec library at all. Only sample PAYLOAD decode (H.264/H.265 bits)
  * stays behind the multimodal stub.
  */
object VideoHeaders {
  /** (brand, timescale, duration_us), or null when the payload is not an
    * ISO-BMFF container with ftyp + moov/mvhd. */
  def parseMp4(b: Array[Byte]): (String, Int, Long) = {
    if (b == null || b.length < 16) return null
    var brand: String = null
    var timescale = -1
    var durTicks = -1L
    var i = 0
    var first = true
    while (i + 8 <= b.length && (brand == null || timescale < 0)) {
      val (size, hdr) = boxSize(b, i)
      if (size < hdr || i + size > b.length) return null
      val typ = tag(b, i + 4)
      if (first && typ != "ftyp") return null // ISO BMFF leads with ftyp
      first = false
      typ match {
        case "ftyp" if size >= hdr + 4 =>
          brand = tag(b, i + hdr)
        case "moov" =>
          // walk children of moov for mvhd
          var j = i + hdr
          val end = i + size
          while (j + 8 <= end && timescale < 0) {
            val (csize, chdr) = boxSize(b, j)
            if (csize < chdr || j + csize > end) return null
            if (tag(b, j + 4) == "mvhd" && csize >= chdr + 4) {
              val v = u(b, j + chdr)
              if (v == 0 && csize >= chdr + 20) {
                timescale = be32(b, j + chdr + 12)
                durTicks = be32(b, j + chdr + 16).toLong & 0xffffffffL
              } else if (v == 1 && csize >= chdr + 32) {
                // v1 layout: 8+8 create/modify, 4 timescale at +20, then an
                // 8-byte duration at +24 — the box must hold all 32 bytes
                timescale = be32(b, j + chdr + 20)
                durTicks = be64(b, j + chdr + 24)
              } else return null
            }
            j += csize.toInt
          }
        case _ => ()
      }
      i += size.toInt
    }
    if (brand == null || timescale <= 0 || durTicks < 0) null
    else (brand, timescale, durTicks * 1000000L / timescale)
  }

  /** (total box size, header length). size==1 → 64-bit largesize follows;
    * size==0 (box runs to EOF) is surfaced as remaining length. */
  private def boxSize(b: Array[Byte], i: Int): (Long, Int) = {
    val s = be32(b, i).toLong & 0xffffffffL
    if (s == 1L && i + 16 <= b.length) (be64(b, i + 8), 16)
    else if (s == 0L) ((b.length - i).toLong, 8)
    else (s, 8)
  }

  private def u(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def tag(b: Array[Byte], i: Int): String =
    if (i + 4 > b.length) "" else new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
  private def be32(b: Array[Byte], i: Int): Int =
    (u(b, i) << 24) | (u(b, i + 1) << 16) | (u(b, i + 2) << 8) | u(b, i + 3)
  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i).toLong << 32) | (be32(b, i + 4).toLong & 0xffffffffL)

  private def be32b(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  // ----------------------------------------------------- track-level parse

  /** One media track's sample-table facts (all from moov, no codec needed):
    * tkhd identity + presentation dims, mdhd clock, hdlr role, stsd codec
    * fourcc, stts/stsz/stco totals. `durationUs` is exact integer micros on
    * the TRACK timescale; `totalBytes` is the stsz sum, so
    * totalBytes·8e6/durationUs is the duration-weighted media bitrate. */
  final case class TrackInfo(trackId: Int, handler: String, codec: String,
      width: Int, height: Int, timescale: Int, sampleCount: Long,
      durationUs: Long, totalBytes: Long, chunkCount: Int)

  private val MaxTracks = 64

  /** offset of the first `typ` child box inside [start, end), or -1; walks
    * siblings only (no recursion). */
  private def findBox(b: Array[Byte], start: Long, end: Long, typ: String): Long = {
    var i = start
    while (i + 8 <= end) {
      val (size, hdr) = boxSize(b, i.toInt)
      if (size < hdr || i + size > end) return -1L
      if (tag(b, (i + 4).toInt) == typ) return i
      i += size
    }
    -1L
  }

  /** Parse every trak in moov to [[TrackInfo]]; null when the payload is
    * not ISO-BMFF or any sample table is structurally broken — route,
    * don't crash (triage posture). */
  def parseTracks(b: Array[Byte]): Seq[TrackInfo] =
    try parseTracks0(b)
    catch { case scala.util.control.NonFatal(_) => null }

  private def parseTracks0(b: Array[Byte]): Seq[TrackInfo] = {
    if (b == null || b.length < 16) return null
    // locate moov among the top-level boxes; ftyp must lead (ISO BMFF)
    if (tag(b, 4) != "ftyp") return null
    val moov = findBox(b, 0L, b.length.toLong, "moov")
    if (moov < 0) return null
    val (moovSize, moovHdr) = boxSize(b, moov.toInt)
    val moovEnd = moov + moovSize
    val out = Seq.newBuilder[TrackInfo]
    var n = 0
    var t = moov + moovHdr
    while (n < MaxTracks) {
      t = findBox(b, t, moovEnd, "trak")
      if (t < 0) return out.result()
      val (tSize, tHdr) = boxSize(b, t.toInt)
      val ti = parseTrak(b, t + tHdr, t + tSize)
      if (ti == null) return null // malformed track table → whole parse null
      out += ti
      t += tSize
      n += 1
    }
    // a 65th trak means the answer would be TRUNCATED — that is abnormal
    // shape, and the contract for abnormal shape is null, never a
    // plausible-looking partial result
    if (findBox(b, t, moovEnd, "trak") >= 0) null else out.result()
  }

  private def parseTrak(b: Array[Byte], start: Long, end: Long): TrackInfo = {
    // tkhd: track id + presentation width/height (16.16 fixed point)
    val tkhd = findBox(b, start, end, "tkhd")
    if (tkhd < 0) return null
    val (_, thdr) = boxSize(b, tkhd.toInt)
    val tb = (tkhd + thdr).toInt
    val tver = u(b, tb)
    // v0 body: ver+flags 4, create 4, modify 4, id 4, res 4, dur 4,
    //   res 8, layer/alt/vol/res 8, matrix 36, w 4, h 4  (84 bytes)
    // v1 widens create/modify/duration to 8 (96 bytes)
    val (idOff, whOff, tkhdBody) =
      if (tver == 0) (tb + 12, tb + 76, 84) else (tb + 20, tb + 88, 96)
    if (tkhd + thdr + tkhdBody > end) return null
    val trackId = be32(b, idOff)
    val width = be32(b, whOff) >>> 16 // integer part of 16.16
    val height = be32(b, whOff + 4) >>> 16
    // mdia → mdhd (track clock) + hdlr (role) + minf → stbl (tables)
    val mdia = findBox(b, start, end, "mdia")
    if (mdia < 0) return null
    val (mSize, mHdr) = boxSize(b, mdia.toInt)
    val mEnd = mdia + mSize
    val mdhd = findBox(b, mdia + mHdr, mEnd, "mdhd")
    if (mdhd < 0) return null
    val (_, mhHdr) = boxSize(b, mdhd.toInt)
    val mb = (mdhd + mhHdr).toInt
    val mver = u(b, mb)
    val (timescale, durTicks) =
      if (mver == 0) {
        if (mdhd + mhHdr + 24 > mEnd) return null
        (be32(b, mb + 12), be32(b, mb + 16).toLong & 0xffffffffL)
      } else {
        if (mdhd + mhHdr + 36 > mEnd) return null
        (be32(b, mb + 20), be64(b, mb + 24))
      }
    if (timescale <= 0 || durTicks < 0) return null
    val hdlr = findBox(b, mdia + mHdr, mEnd, "hdlr")
    if (hdlr < 0) return null
    val (_, hHdr) = boxSize(b, hdlr.toInt)
    if (hdlr + hHdr + 12 > mEnd) return null
    val handler = tag(b, (hdlr + hHdr + 8).toInt)
    val minf = findBox(b, mdia + mHdr, mEnd, "minf")
    if (minf < 0) return null
    val (nSize, nHdr) = boxSize(b, minf.toInt)
    val stbl = findBox(b, minf + nHdr, minf + nSize, "stbl")
    if (stbl < 0) return null
    val (sSize, sHdr) = boxSize(b, stbl.toInt)
    val sEnd = stbl + sSize
    // stsd: first sample entry's format fourcc is the codec id
    val stsd = findBox(b, stbl + sHdr, sEnd, "stsd")
    if (stsd < 0) return null
    val (_, sdHdr) = boxSize(b, stsd.toInt)
    val sdb = (stsd + sdHdr).toInt
    if (stsd + sdHdr + 16 > sEnd || be32(b, sdb + 4) < 1) return null
    val codec = tag(b, sdb + 12)
    // stsz: fixed sample size or per-sample table → count + byte total
    val stsz = findBox(b, stbl + sHdr, sEnd, "stsz")
    if (stsz < 0) return null
    val (szSize, szHdr) = boxSize(b, stsz.toInt)
    val zb = (stsz + szHdr).toInt
    if (stsz + szHdr + 12 > sEnd) return null
    val fixedSize = be32(b, zb + 4).toLong & 0xffffffffL
    val sampleCount = be32(b, zb + 8).toLong & 0xffffffffL
    val totalBytes =
      if (fixedSize > 0) fixedSize * sampleCount
      else {
        // per-sample u32 table must fit inside the declared box
        if (szHdr + 12 + 4 * sampleCount > szSize) return null
        var sum = 0L
        var k = 0
        while (k < sampleCount) {
          sum += be32(b, zb + 12 + 4 * k).toLong & 0xffffffffL
          k += 1
        }
        sum
      }
    // stco (u32 offsets) or co64 (u64): chunk count
    val stco = findBox(b, stbl + sHdr, sEnd, "stco")
    val co64 = if (stco < 0) findBox(b, stbl + sHdr, sEnd, "co64") else -1L
    val chunkCount =
      if (stco >= 0) {
        val (cSize, cHdr) = boxSize(b, stco.toInt)
        val cb = (stco + cHdr).toInt
        if (stco + cHdr + 8 > sEnd) return null
        val nc = be32(b, cb + 4)
        if (nc < 0 || cHdr + 8 + 4L * nc > cSize) return null
        nc
      } else if (co64 >= 0) {
        val (cSize, cHdr) = boxSize(b, co64.toInt)
        val cb = (co64 + cHdr).toInt
        if (co64 + cHdr + 8 > sEnd) return null
        val nc = be32(b, cb + 4)
        if (nc < 0 || cHdr + 8 + 8L * nc > cSize) return null
        nc
      } else return null
    // stts sanity: when present, its (count × delta) totals must not
    // contradict stsz's sample count
    val stts = findBox(b, stbl + sHdr, sEnd, "stts")
    if (stts >= 0) {
      val (ttSize, ttHdr) = boxSize(b, stts.toInt)
      val yb = (stts + ttHdr).toInt
      if (stts + ttHdr + 8 > sEnd) return null
      val ne = be32(b, yb + 4)
      if (ne < 0 || ttHdr + 8 + 8L * ne > ttSize) return null
      var cnt = 0L
      var k = 0
      while (k < ne) {
        cnt += be32(b, yb + 8 + 8 * k).toLong & 0xffffffffL
        k += 1
      }
      if (cnt != sampleCount) return null
    }
    TrackInfo(trackId, handler, codec, width, height, timescale, sampleCount,
      durTicks * 1000000L / timescale, totalBytes, chunkCount)
  }

  /** One addressable media sample: where its bytes live in the file. */
  final case class SampleRef(trackId: Int, sampleIdx: Int, offset: Long, size: Int)

  private val MaxSamplesPerFile = 65536

  /** Resolve every track's stsc/stco/stsz tables into absolute per-sample
    * (offset, size) references — ISO 14496-12 §8.7's chunk walk: stsc maps
    * sample runs to chunks (each entry applies from its first_chunk until
    * the next entry's), stco/co64 gives chunk starts, samples pack
    * contiguously inside a chunk. Null for non-BMFF, broken tables, or
    * absurd sample counts (triage posture — at scale, per-sample EXPLODE
    * belongs on bounded batches; cap [[MaxSamplesPerFile]]). This is frame
    * extraction WITHOUT a codec: the returned ranges slice real sample
    * payloads straight out of the binary column. */
  def parseSamples(b: Array[Byte]): Seq[SampleRef] =
    try parseSamples0(b)
    catch { case scala.util.control.NonFatal(_) => null }

  private def parseSamples0(b: Array[Byte]): Seq[SampleRef] = {
    if (b == null || b.length < 16 || tag(b, 4) != "ftyp") return null
    val moov = findBox(b, 0L, b.length.toLong, "moov")
    if (moov < 0) return null
    val (moovSize, moovHdr) = boxSize(b, moov.toInt)
    val moovEnd = moov + moovSize
    val out = Seq.newBuilder[SampleRef]
    var total = 0
    var t = moov + moovHdr
    var n = 0
    while (n < MaxTracks) {
      t = findBox(b, t, moovEnd, "trak")
      if (t < 0) return out.result()
      val (tSize, tHdr) = boxSize(b, t.toInt)
      val tEnd = t + tSize
      // track id from tkhd
      val tkhd = findBox(b, t + tHdr, tEnd, "tkhd")
      if (tkhd < 0) return null
      val (_, thdr) = boxSize(b, tkhd.toInt)
      val tb = (tkhd + thdr).toInt
      val trackId =
        if (u(b, tb) == 0) be32(b, tb + 12) else be32(b, tb + 20)
      val mdia = findBox(b, t + tHdr, tEnd, "mdia")
      if (mdia < 0) return null
      val (mSize, mHdr) = boxSize(b, mdia.toInt)
      val minf = findBox(b, mdia + mHdr, mdia + mSize, "minf")
      if (minf < 0) return null
      val (nSize, nHdr) = boxSize(b, minf.toInt)
      val stbl = findBox(b, minf + nHdr, minf + nSize, "stbl")
      if (stbl < 0) return null
      val (sSize, sHdr) = boxSize(b, stbl.toInt)
      val sEnd = stbl + sSize
      // stsz → per-sample sizes
      val stsz = findBox(b, stbl + sHdr, sEnd, "stsz")
      if (stsz < 0) return null
      val (szSize, szHdr) = boxSize(b, stsz.toInt)
      val zb = (stsz + szHdr).toInt
      if (stsz + szHdr + 12 > sEnd) return null
      val fixedSize = be32(b, zb + 4)
      val sampleCount = be32(b, zb + 8)
      if (sampleCount < 0 || total + sampleCount > MaxSamplesPerFile) return null
      if (fixedSize == 0 && szHdr + 12 + 4L * sampleCount > szSize) return null
      @inline def sizeOf(s: Int): Int =
        if (fixedSize > 0) fixedSize else be32(b, zb + 12 + 4 * s)
      // stsc entries: (first_chunk, samples_per_chunk) — ignore the
      // sample-description index; entries apply until the next first_chunk
      val stsc = findBox(b, stbl + sHdr, sEnd, "stsc")
      if (stsc < 0) return null
      val (scSize, scHdr) = boxSize(b, stsc.toInt)
      val cb0 = (stsc + scHdr).toInt
      if (stsc + scHdr + 8 > sEnd) return null
      val nsc = be32(b, cb0 + 4)
      if (nsc <= 0 || scHdr + 8 + 12L * nsc > scSize) return null
      val scFirst = Array.tabulate(nsc)(e => be32(b, cb0 + 8 + 12 * e))
      val scPer = Array.tabulate(nsc)(e => be32(b, cb0 + 8 + 12 * e + 4))
      if (scFirst(0) != 1 || scPer.exists(_ <= 0)) return null
      // stco / co64 → chunk offsets
      val stco = findBox(b, stbl + sHdr, sEnd, "stco")
      val co64 = if (stco < 0) findBox(b, stbl + sHdr, sEnd, "co64") else -1L
      if (stco < 0 && co64 < 0) return null
      val (cBox, wide) = if (stco >= 0) (stco, false) else (co64, true)
      val (cSize, cHdr) = boxSize(b, cBox.toInt)
      val ob = (cBox + cHdr).toInt
      if (cBox + cHdr + 8 > sEnd) return null
      val nChunks = be32(b, ob + 4)
      if (nChunks <= 0 ||
          cHdr + 8 + (if (wide) 8L else 4L) * nChunks > cSize) return null
      @inline def chunkOff(c: Int): Long =
        if (wide) be64(b, ob + 8 + 8 * c)
        else be32(b, ob + 8 + 4 * c).toLong & 0xffffffffL
      // walk chunks, assigning samples
      var s = 0
      var chunk = 0
      var sce = 0
      while (s < sampleCount && chunk < nChunks) {
        if (sce + 1 < nsc && chunk + 1 >= scFirst(sce + 1)) sce += 1
        var off = chunkOff(chunk)
        var inChunk = 0
        while (inChunk < scPer(sce) && s < sampleCount) {
          val sz = sizeOf(s)
          if (sz < 0 || off < 0 || off + sz > b.length) return null
          out += SampleRef(trackId, s, off, sz)
          off += sz
          s += 1
          inChunk += 1
        }
        chunk += 1
      }
      if (s != sampleCount) return null // chunks ran out before samples
      total += sampleCount
      t += tSize
      n += 1
    }
    // same truncation rule as parseTracks0: a 65th trak → null, not partial
    if (findBox(b, t, moovEnd, "trak") >= 0) null else out.result()
  }

  // --------------------------------------------------------------- builders

  /** A valid ftyp + moov(mvhd v0) + mdat(body) container — the
    * deterministic inverse of [[parseMp4]] for the header part. */
  def buildMp4(brand: String, timescale: Int, durTicks: Int, body: Array[Byte]): Array[Byte] = {
    require(brand.length == 4, "brand must be a 4cc")
    val ftyp = be32b(16) ++ "ftyp".getBytes ++ brand.getBytes ++ be32b(0)
    val mvhd = be32b(108) ++ "mvhd".getBytes ++ be32b(0) /* v0+flags */ ++
      be32b(0) ++ be32b(0) /* creation, modification */ ++
      be32b(timescale) ++ be32b(durTicks) ++
      be32b(0x00010000) /* rate 1.0 */ ++ new Array[Byte](2 + 10 + 36 + 24) ++
      be32b(2) /* next track id */
    val moov = be32b(8 + mvhd.length) ++ "moov".getBytes ++ mvhd
    val mdat = be32b(8 + body.length) ++ "mdat".getBytes ++ body
    ftyp ++ moov ++ mdat
  }

  /** What [[buildMp4Tracks]] needs per track; `sampleSizes` drives stsz
    * (per-sample table) and stts carries one run of `sampleDelta` ticks per
    * sample, so mdhd duration = sampleSizes.length · sampleDelta. A
    * non-empty `codecConfig` on a video track emits a full 78-byte visual
    * sample entry carrying it as an `avcC` child (ISO 14496-15). */
  final case class TrackSpec(trackId: Int, handler: String, codec: String,
      width: Int, height: Int, timescale: Int, sampleSizes: Array[Int],
      sampleDelta: Int, chunkCount: Int,
      codecConfig: Array[Byte] = Array.emptyByteArray)

  /** [[buildMp4Tracks]] with REAL sample data: each track's samples are
    * packed contiguously into mdat in chunk order and stco carries their
    * true absolute offsets, so [[parseSamples]] round-trips exact byte
    * ranges. `sampleData(t)(s)` must have the lengths the spec's
    * `sampleSizes` declare. */
  def buildMp4TracksWithData(brand: String, movieTimescale: Int,
      tracks: Seq[TrackSpec], sampleData: Seq[Array[Array[Byte]]]): Array[Byte] = {
    require(tracks.length == sampleData.length)
    tracks.zip(sampleData).foreach { case (t, d) =>
      require(d.length == t.sampleSizes.length &&
        d.zip(t.sampleSizes).forall { case (bs, n) => bs.length == n })
    }
    // two passes: moov's byte size is independent of the offset VALUES
    // (stco entries are fixed-width), so lay out with zeros, then rebuild
    // with offsets into the real mdat position
    val zeroOffsets = tracks.map(t => new Array[Long](math.max(1, t.chunkCount)))
    val probe = assembleMp4(brand, movieTimescale, tracks, zeroOffsets,
      Array.emptyByteArray)
    val mdatBody = sampleData.flatMap(_.iterator.flatMap(_.iterator)).toArray
    // probe = ftyp + moov + empty mdat header; real payload starts right
    // after the same-sized prefix
    var cursor = probe.length.toLong
    val offsets = tracks.zip(sampleData).map { case (t, d) =>
      val nCh = math.max(1, t.chunkCount)
      val perChunk = math.max(1, (d.length + nCh - 1) / nCh)
      val offs = new Array[Long](nCh)
      var s = 0
      var c = 0
      while (c < nCh) {
        offs(c) = cursor
        var k = 0
        while (k < perChunk && s < d.length) {
          cursor += d(s).length; s += 1; k += 1
        }
        c += 1
      }
      offs
    }
    assembleMp4(brand, movieTimescale, tracks, offsets, mdatBody)
  }

  /** Full ISO-BMFF container with real per-track sample tables — the
    * deterministic inverse of [[parseTracks]] (ISO 14496-12 §8: tkhd, mdhd
    * v0, hdlr, stbl with stsd/stts/stsz/stsc/stco). The mdat body is
    * opaque; chunk offsets point into it at arbitrary (but in-file)
    * positions — use [[buildMp4TracksWithData]] when [[parseSamples]] must
    * resolve real byte ranges. */
  def buildMp4Tracks(brand: String, movieTimescale: Int,
      tracks: Seq[TrackSpec], body: Array[Byte]): Array[Byte] =
    assembleMp4(brand, movieTimescale, tracks,
      tracks.map(t => Array.tabulate(math.max(1, t.chunkCount))(k => 16L + 8 * k)),
      body)

  private def assembleMp4(brand: String, movieTimescale: Int,
      tracks: Seq[TrackSpec], chunkOffsets: Seq[Array[Long]],
      body: Array[Byte]): Array[Byte] = {
    require(brand.length == 4, "brand must be a 4cc")
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      require(typ.length == 4)
      be32b(8 + payload.length) ++ typ.getBytes ++ payload
    }
    def full(typ: String, ver: Int, payload: Array[Byte]): Array[Byte] =
      box(typ, be32b(ver << 24) ++ payload)
    def be16b(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val traks = tracks.zipWithIndex.map { case (t, ti) =>
      require(t.handler.length == 4 && t.codec.length == 4)
      val durTicks = t.sampleSizes.length * t.sampleDelta
      val tkhd = full("tkhd", 0,
        be32b(0) ++ be32b(0) ++ be32b(t.trackId) ++ be32b(0) ++ be32b(durTicks) ++
          new Array[Byte](8) /* reserved */ ++
          be16b(0) ++ be16b(0) ++ be16b(0) ++ be16b(0) /* layer/alt/vol/res */ ++
          (be32b(0x00010000) ++ be32b(0) ++ be32b(0) ++ be32b(0) ++
            be32b(0x00010000) ++ be32b(0) ++ be32b(0) ++ be32b(0) ++
            be32b(0x40000000)) /* identity matrix */ ++
          be32b(t.width << 16) ++ be32b(t.height << 16))
      val mdhd = full("mdhd", 0,
        be32b(0) ++ be32b(0) ++ be32b(t.timescale) ++ be32b(durTicks) ++
          be16b(0x55c4) /* und */ ++ be16b(0))
      val hdlr = full("hdlr", 0,
        be32b(0) ++ t.handler.getBytes ++ new Array[Byte](12) ++ Array(0.toByte))
      // sample entry: minimal (6 reserved + 2 data-reference-index) unless
      // a codec config rides along, in which case the full 78-byte visual
      // entry (ISO 14496-12 §12.1.3) carries it as an avcC child
      val stsd = full("stsd", 0, be32b(1) ++ {
        if (t.codecConfig.nonEmpty && t.handler == "vide") {
          val fixed = new Array[Byte](6) ++ be16b(1) /* data-ref index */ ++
            be16b(0) ++ be16b(0) ++ new Array[Byte](12) /* pre_def/reserved */ ++
            be16b(t.width) ++ be16b(t.height) ++
            be32b(0x00480000) ++ be32b(0x00480000) /* 72 dpi */ ++
            be32b(0) ++ be16b(1) /* reserved + frame_count */ ++
            new Array[Byte](32) /* compressorname */ ++
            be16b(24) ++ be16b(0xffff) /* depth + pre_defined(-1) */
          val cfgTag = t.codec match {
            case "hvc1" | "hev1" => "hvcC"
            case "av01" => "av1C"
            case _ => "avcC"
          }
          box(t.codec, fixed ++ box(cfgTag, t.codecConfig))
        } else box(t.codec, new Array[Byte](6) ++ be16b(1))
      })
      val stts = full("stts", 0, be32b(1) ++
        be32b(t.sampleSizes.length) ++ be32b(t.sampleDelta))
      val stsz = full("stsz", 0, be32b(0) /* per-sample */ ++
        be32b(t.sampleSizes.length) ++ t.sampleSizes.flatMap(be32b))
      val perChunk = math.max(1,
        (t.sampleSizes.length + math.max(1, t.chunkCount) - 1) / math.max(1, t.chunkCount))
      val stsc = full("stsc", 0, be32b(1) ++ be32b(1) ++ be32b(perChunk) ++ be32b(1))
      val stco = full("stco", 0, be32b(t.chunkCount) ++
        Array.tabulate(t.chunkCount)(k => be32b(chunkOffsets(ti)(k).toInt)).flatten)
      val stbl = box("stbl", stsd ++ stts ++ stsz ++ stsc ++ stco)
      val minf = box("minf", stbl)
      val mdia = box("mdia", mdhd ++ hdlr ++ minf)
      box("trak", tkhd ++ mdia)
    }
    val movieDur = tracks.map { t =>
      // movie duration = longest track, re-expressed on the movie timescale
      val us = t.sampleSizes.length.toLong * t.sampleDelta * 1000000L / t.timescale
      us * movieTimescale / 1000000L
    }.foldLeft(0L)(math.max)
    val mvhd = full("mvhd", 0,
      be32b(0) ++ be32b(0) ++ be32b(movieTimescale) ++ be32b(movieDur.toInt) ++
        be32b(0x00010000) ++ new Array[Byte](2 + 10 + 36 + 24) ++
        be32b(tracks.map(_.trackId).foldLeft(0)(math.max) + 1))
    val ftyp = be32b(16) ++ "ftyp".getBytes ++ brand.getBytes ++ be32b(0)
    val moov = box("moov", mvhd ++ traks.flatten.toArray)
    val mdat = box("mdat", body)
    ftyp ++ moov ++ mdat
  }
}

/** `video_header(binary)` → `struct<brand string, timescale int,
  * duration_us long>`, null for non-ISO-BMFF payloads. Codegen'd, same
  * posture as `image_header`/`audio_header`. */
case class VideoHeader(child: Expression)
    extends BinaryCodecExpression("video_header", VideoHeader.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val parsed = VideoHeaders.parseMp4(payload.asInstanceOf[Array[Byte]])
    if (parsed == null) null
    else InternalRow(UTF8String.fromString(parsed._1), parsed._2, parsed._3)
  }

  override protected def withNewChildInternal(newChild: Expression): VideoHeader =
    copy(child = newChild)
}

object VideoHeader {
  val resultType: StructType = StructType(Seq(
    StructField("brand", StringType),
    StructField("timescale", IntegerType),
    StructField("duration_us", LongType)))

  def videoHeader(media: Column): Column =
    GraftColumnShim.column(VideoHeader(GraftColumnShim.expression(media)))
}

/** `video_tracks(binary)` → `array<struct<...>>` of per-track sample-table
  * facts (ISO 14496-12 moov→trak→mdia→minf→stbl walk: tkhd, mdhd, hdlr,
  * stsd, stts, stsz, stco/co64) — sample counts, byte totals, exact
  * integer-micros durations, presentation dims, and the codec fourcc, all
  * with zero codec libraries. Null for non-BMFF or structurally broken
  * tables. Codegen'd; at 100 TB this is the per-file video triage scan
  * (bitrate/fps/codec classification) with no frame decode. */
case class VideoTracks(child: Expression)
    extends BinaryCodecExpression("video_tracks", VideoTracks.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val tracks = VideoHeaders.parseTracks(payload.asInstanceOf[Array[Byte]])
    if (tracks == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      tracks.map(t => InternalRow(t.trackId,
        UTF8String.fromString(t.handler), UTF8String.fromString(t.codec),
        t.width, t.height, t.timescale, t.sampleCount, t.durationUs,
        t.totalBytes, t.chunkCount)).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): VideoTracks =
    copy(child = newChild)
}

/** `video_samples(binary)` → `array<struct<track_id, sample_idx, offset,
  * size>>`: every media sample's absolute byte range, resolved from the
  * stsc/stco/stsz chunk walk — frame extraction WITHOUT a codec. Compose
  * with `substring(media, offset + 1, size)` to slice real sample payloads
  * out of the binary column (the multimodal "frame-sample" op: at 100 TB
  * this explodes a video corpus into per-sample rows for downstream
  * decode/dedup/hashing with plain column pruning — the container is read
  * once, no temp files, no external tools). Null for non-BMFF, broken
  * tables, or > 65536 samples (use manifest-level processing there). */
case class VideoSamples(child: Expression)
    extends BinaryCodecExpression("video_samples", VideoSamples.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val refs = VideoHeaders.parseSamples(payload.asInstanceOf[Array[Byte]])
    if (refs == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      refs.map(r => InternalRow(r.trackId, r.sampleIdx, r.offset, r.size))
        .toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): VideoSamples =
    copy(child = newChild)
}

object VideoSamples {
  val sampleType: StructType = StructType(Seq(
    StructField("track_id", IntegerType),
    StructField("sample_idx", IntegerType),
    StructField("offset", LongType),
    StructField("size", IntegerType)))
  val resultType: DataType = ArrayType(sampleType, containsNull = false)

  def videoSamples(media: Column): Column =
    GraftColumnShim.column(VideoSamples(GraftColumnShim.expression(media)))
}

object VideoTracks {
  val trackType: StructType = StructType(Seq(
    StructField("track_id", IntegerType),
    StructField("handler", StringType),
    StructField("codec", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("timescale", IntegerType),
    StructField("sample_count", LongType),
    StructField("duration_us", LongType),
    StructField("total_bytes", LongType),
    StructField("chunk_count", IntegerType)))
  val resultType: DataType = ArrayType(trackType, containsNull = false)

  def videoTracks(media: Column): Column =
    GraftColumnShim.column(VideoTracks(GraftColumnShim.expression(media)))
}
