package graft.functions

import scala.util.control.NonFatal

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** Library-free XZ / LZMA (the public `.xz` file format and LZMA/LZMA2
  * algorithms as documented in the Tukaani xz-file-format
  * specification and the 7-Zip LZMA specification) — `.tar.xz` and
  * many academic corpus dumps ship in it, and the JDK has no LZMA.
  * Like [[Bzip2]] (the x248 precedent) this is a from-scratch decoder
  * with a SUBSET encoder for fixtures:
  *
  *  - decode: full container (multi-stream with padding, CRC32/CRC64/
  *    SHA-256 block checks, header/index/footer CRCs verified, index
  *    cross-checked against real block sizes) over full LZMA2
  *    (uncompressed and compressed chunks, state/props/dict resets)
  *    over full LZMA (literals incl. matched mode, match/rep/shortrep,
  *    the 12-state machine, pos-slot + reverse bit-tree + aligned
  *    distance coding). Null on ANY structural or checksum break;
  *    output bounded at 256 MiB per row like the other codecs.
  *  - encode (fixtures): one CRC32-checked block of LZMA2 carrying
  *    either uncompressed chunks or LITERAL-ONLY LZMA chunks (a real
  *    range encoder, lc=3 lp=0 pb=2) — enough to exercise the range
  *    coder and literal path by construction; MATCH decoding is
  *    proven against the system `xz` binary in XzSpec (levels 0/9e),
  *    the same two-way-interop posture as Bzip2Spec.
  *
  * Filter chains: plain LZMA2 plus the two prefilters real `.tar.xz`
  * distributions wear — delta (0x03) and BCJ x86 (0x04) — DECODE
  * (x257); the inverse filter runs per block after the LZMA2 stage and
  * the block check verifies the final bytes. Any other prefilter id
  * (the non-x86 branch converters 0x05–0x0B, LZMA1 0x4000000000000001,
  * unknown ids) null-routes as quarantine. */
object Xz {

  // --------------------------------------------------------------- CRCs

  private val Crc32Table: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i
      var k = 0
      while (k < 8) { c = if ((c & 1) != 0) (c >>> 1) ^ 0xEDB88320 else c >>> 1; k += 1 }
      t(i) = c
      i += 1
    }
    t
  }

  def crc32(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0xFFFFFFFF
    var i = from
    while (i < until) {
      c = (c >>> 8) ^ Crc32Table((c ^ b(i)) & 0xFF)
      i += 1
    }
    ~c
  }

  /** Incremental CRC32 (same polynomial/table as [[crc32]]) for the
    * streaming readers, which never hold the whole payload: start from
    * [[crc32Init]], fold blocks with [[crc32Update]], finish with
    * [[crc32Done]]. */
  def crc32Init: Int = 0xFFFFFFFF
  def crc32Update(c0: Int, b: Array[Byte], from: Int, until: Int): Int = {
    var c = c0
    var i = from
    while (i < until) {
      c = (c >>> 8) ^ Crc32Table((c ^ b(i)) & 0xFF)
      i += 1
    }
    c
  }
  def crc32Done(c: Int): Int = ~c

  private val Crc64Table: Array[Long] = {
    val poly = 0xC96C5795D7870F42L // ECMA-182, reflected
    val t = new Array[Long](256)
    var i = 0
    while (i < 256) {
      var c = i.toLong
      var k = 0
      while (k < 8) { c = if ((c & 1L) != 0) (c >>> 1) ^ poly else c >>> 1; k += 1 }
      t(i) = c
      i += 1
    }
    t
  }

  def crc64(b: Array[Byte], from: Int, until: Int): Long = {
    var c = -1L
    var i = from
    while (i < until) {
      c = (c >>> 8) ^ Crc64Table(((c ^ b(i)) & 0xFF).toInt)
      i += 1
    }
    ~c
  }

  // ------------------------------------------------------------- decode

  private object Corrupt extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }
  private def fail(): Nothing = throw Corrupt

  val MaxOut: Int = 1 << 28 // per-row inflate bound, as Bzip2/Zstandard

  def decode(b: Array[Byte]): Array[Byte] = {
    try decodeImpl(b)
    catch { case Corrupt => null; case NonFatal(_) => null }
  }

  private val Magic = Array[Byte](0xFD.toByte, '7', 'z', 'X', 'Z', 0)

  private final class Cursor(val b: Array[Byte]) {
    var pos = 0
    def u8(): Int = {
      if (pos >= b.length) fail()
      pos += 1
      b(pos - 1) & 0xFF
    }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || pos + n > b.length) fail()
      val r = java.util.Arrays.copyOfRange(b, pos, pos + n)
      pos += n
      r
    }
    def le32(): Int = u8() | (u8() << 8) | (u8() << 16) | (u8() << 24)
    def le64(): Long = (le32().toLong & 0xFFFFFFFFL) | (le32().toLong << 32)
    def vli(): Long = {
      var v = 0L
      var i = 0
      var more = true
      while (more) {
        if (i >= 9) fail()
        val c = u8()
        v |= (c & 0x7FL) << (7 * i)
        more = (c & 0x80) != 0
        if (!more && c == 0 && i > 0) fail() // non-minimal encoding
        i += 1
      }
      v
    }
    def eof: Boolean = pos >= b.length
  }

  private def decodeImpl(raw: Array[Byte]): Array[Byte] = {
    if (raw == null || raw.length < 32) return null
    val out = new java.io.ByteArrayOutputStream()
    val c = new Cursor(raw)
    var sawStream = false
    while (!c.eof) {
      // stream padding between/after streams: 4-byte-aligned zeros
      if (raw(c.pos) == 0) {
        val start = c.pos
        while (!c.eof && raw(c.pos) == 0) c.pos += 1
        if ((c.pos - start) % 4 != 0 || (!c.eof && !sawStream)) fail()
      } else {
        decodeStream(c, out)
        sawStream = true
      }
    }
    if (!sawStream) fail()
    out.toByteArray
  }

  private def decodeStream(c: Cursor, out: java.io.ByteArrayOutputStream): Unit = {
    // stream header: magic, flags, crc32(flags)
    if (!java.util.Arrays.equals(c.bytes(6), Magic)) fail()
    val flagsAt = c.pos
    val f0 = c.u8()
    val check = c.u8()
    if (f0 != 0) fail()
    val checkLen = check match {
      case 0 => 0
      case 1 => 4
      case 4 => 8
      case 0x0A => 32
      case _ => fail()
    }
    if (c.le32() != crc32(c.b, flagsAt, flagsAt + 2)) fail()

    // blocks until the index indicator (a 0x00 where header size goes)
    val records = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    while ((c.b(c.pos) & 0xFF) != 0) {
      records += decodeBlock(c, check, checkLen, out)
    }

    // index
    val indexAt = c.pos
    if (c.u8() != 0) fail()
    if (c.vli() != records.length.toLong) fail()
    records.foreach { case (unpadded, unc) =>
      if (c.vli() != unpadded) fail()
      if (c.vli() != unc) fail()
    }
    while ((c.pos - indexAt) % 4 != 0) if (c.u8() != 0) fail()
    if (c.le32() != crc32(c.b, indexAt, c.pos - 4)) fail()
    val indexSize = c.pos - indexAt

    // footer: crc32(backward+flags), backward size, flags, "YZ"
    val footAt = c.pos
    val fCrc = c.le32()
    val backward = c.le32()
    val ff0 = c.u8()
    val fCheck = c.u8()
    if (crc32(c.b, footAt + 4, footAt + 10) != fCrc) fail()
    if ((backward.toLong + 1) * 4 != indexSize.toLong) fail()
    if (ff0 != 0 || fCheck != check) fail()
    if (c.u8() != 'Y' || c.u8() != 'Z') fail()
  }

  /** One block: header, LZMA2 data, padding, check. Returns the index
    * record (unpadded size, uncompressed size). */
  private def decodeBlock(c: Cursor, check: Int, checkLen: Int,
      out: java.io.ByteArrayOutputStream): (Long, Long) = {
    val headAt = c.pos
    val hsz = (c.u8() + 1) * 4
    val flags = c.u8()
    val nFilters = (flags & 3) + 1
    if ((flags & 0x3C) != 0) fail() // reserved bits
    val declComp = if ((flags & 0x40) != 0) Some(c.vli()) else None
    val declUnc = if ((flags & 0x80) != 0) Some(c.vli()) else None
    var lzma2 = false
    // non-last prefilters (encoding order), applied INVERSE after the
    // LZMA2 decode, last first: delta (0x03) and BCJ x86 (0x04) — the
    // chains real .tar.xz distributions actually wear; anything else
    // null-routes as quarantine
    var prefilters = List.empty[(Long, Array[Byte])]
    var i = 0
    while (i < nFilters) {
      val id = c.vli()
      val propsLen = c.vli()
      val props = c.bytes(propsLen.toInt)
      if (i == nFilters - 1) {
        if (id != 0x21L || props.length != 1 || (props(0) & 0xFF) > 40) fail()
        lzma2 = true
      } else id match {
        case 0x03L =>
          if (props.length != 1) fail()
          prefilters ::= (id, props)
        case 0x04L =>
          if (props.length != 0 && props.length != 4) fail()
          prefilters ::= (id, props)
        case _ => fail()
      }
      i += 1
    }
    while (c.pos - headAt < hsz - 4) if (c.u8() != 0) fail()
    if (c.le32() != crc32(c.b, headAt, headAt + hsz - 4)) fail()

    val dataAt = c.pos
    val uncStart = out.size()
    if (!lzma2) fail()
    if (prefilters.isEmpty) Lzma2.decode(c, out)
    else {
      // decode this block alone, run the inverse prefilters over it
      // (prefilters list is already reversed: last-applied first),
      // then append — the block check runs over the FINAL bytes. The
      // LZMA2 budget is what the 256 MiB per-ROW bound has LEFT after
      // prior blocks (tmp's window doesn't carry them), so N filtered
      // blocks can't stack N × 256 MiB; the declared size, when
      // present, fails the same way before any decode work
      declUnc.foreach(d => if (uncStart + d > MaxOut.toLong) fail())
      val tmp = new java.io.ByteArrayOutputStream()
      Lzma2.decode(c, tmp, budget = MaxOut - uncStart)
      var block = tmp.toByteArray
      prefilters.foreach {
        case (0x03L, props) =>
          deltaDecode(block, (props(0) & 0xFF) + 1)
        case (0x04L, props) =>
          val ip =
            if (props.length == 4)
              (props(0) & 0xFF) | ((props(1) & 0xFF) << 8) |
                ((props(2) & 0xFF) << 16) | ((props(3) & 0xFF) << 24)
            else 0
          x86Convert(block, ip, encoding = false)
        case _ => fail()
      }
      out.write(block, 0, block.length)
    }
    val compSize = c.pos - dataAt
    val uncSize = out.size() - uncStart
    declComp.foreach(d => if (d != compSize.toLong) fail())
    declUnc.foreach(d => if (d != uncSize.toLong) fail())

    // block padding to 4-alignment
    while ((c.pos - headAt) % 4 != 0) if (c.u8() != 0) fail()

    // check over the uncompressed block data
    val unc = out.toByteArray // bounded by MaxOut
    check match {
      case 0 =>
      case 1 =>
        if (c.le32() != crc32(unc, uncStart, unc.length)) fail()
      case 4 =>
        if (c.le64() != crc64(unc, uncStart, unc.length)) fail()
      case 0x0A =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        md.update(unc, uncStart, unc.length - uncStart)
        if (!java.util.Arrays.equals(c.bytes(32), md.digest())) fail()
    }
    (hsz.toLong + compSize + checkLen, uncSize.toLong)
  }

  // ------------------------------------------------- prefilter kernels

  /** Delta filter (xz id 0x03), in place. Encoded[i] = raw[i] −
    * raw[i−dist], so decode accumulates forward. */
  private[graft] def deltaDecode(b: Array[Byte], dist: Int): Unit = {
    var i = dist
    while (i < b.length) {
      b(i) = (b(i) + b(i - dist)).toByte
      i += 1
    }
  }

  /** Delta encode (fixture side). */
  private[graft] def deltaEncode(b: Array[Byte], dist: Int): Unit = {
    var i = b.length - 1
    while (i >= dist) {
      b(i) = (b(i) - b(i - dist)).toByte
      i -= 1
    }
  }

  /** BCJ x86 filter (xz id 0x04), in place, whole-buffer: rewrites the
    * 32-bit displacement of relative CALL/JMP (opcodes E8/E9) between
    * relative and absolute so compressed code deduplicates — the
    * standard branch-converter algorithm the xz/7-Zip format documents
    * share (Bra86), with the rolling 3-bit mask that suppresses
    * conversions inside recently-converted displacement bytes. The
    * SAME routine encodes and decodes (add vs subtract), which the
    * fixtures exploit for by-construction roundtrips. */
  private[graft] def x86Convert(data: Array[Byte], ip0: Int,
      encoding: Boolean): Unit = {
    def ms(b: Int): Boolean = b == 0x00 || b == 0xFF
    if (data.length < 5) return
    val size = data.length - 4
    val ip = ip0 + 5
    var pos = 0
    var mask = 0
    var done = false
    while (!done) {
      var p = pos
      while (p < size && (data(p) & 0xFE) != 0xE8) p += 1
      val d = p - pos
      pos = p
      if (p >= size) done = true
      else {
        var skip = false
        if (d > 2) mask = 0
        else {
          mask >>>= d
          if (mask != 0 && (mask > 4 || mask == 3 ||
              ms(data(p + (mask >>> 1) + 1) & 0xFF))) {
            mask = (mask >>> 1) | 4
            pos += 1
            skip = true
          }
        }
        if (!skip) {
          if (ms(data(p + 4) & 0xFF)) {
            var v = ((data(p + 4) & 0xFF) << 24) |
              ((data(p + 3) & 0xFF) << 16) |
              ((data(p + 2) & 0xFF) << 8) | (data(p + 1) & 0xFF)
            val cur = ip + pos
            pos += 5
            if (encoding) v += cur else v -= cur
            if (mask != 0) {
              val sh = (mask & 6) << 2
              if (ms((v >>> sh) & 0xFF)) {
                v ^= ((0x100 << sh) - 1)
                if (encoding) v += cur else v -= cur
              }
              mask = 0
            }
            data(p + 1) = v.toByte
            data(p + 2) = (v >>> 8).toByte
            data(p + 3) = (v >>> 16).toByte
            data(p + 4) = (0 - ((v >>> 24) & 1)).toByte
          } else {
            mask = (mask >>> 1) | 4
            pos += 1
          }
        }
      }
    }
  }

  // ---------------------------------------- entry points for 7z coders

  /** Standalone LZMA2 chunk-stream decode (the 7z LZMA2 coder's data
    * is the same chunked format the XZ block carries). Null on break. */
  private[functions] def lzma2Decode(packed: Array[Byte]): Array[Byte] = {
    try {
      val c = new Cursor(packed)
      val out = new java.io.ByteArrayOutputStream()
      Lzma2.decode(c, out)
      if (c.pos != packed.length) fail()
      out.toByteArray
    } catch { case Corrupt => null; case NonFatal(_) => null }
  }

  /** Standalone LZMA2 chunk stream over the literal-only subset
    * encoder (fixture side of the 7z LZMA2 coder). */
  private[functions] def lzma2EncodeLiterals(data: Array[Byte],
      chunkSize: Int = 1 << 15): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < data.length) {
      val n = math.min(chunkSize, data.length - off)
      val chunk = encodeLiteralChunk(data, off, n)
      out.write(chunk, 0, chunk.length)
      off += n
    }
    out.write(0)
    out.toByteArray
  }

  /** Raw LZMA1 stream decode with a known unpacked size (the 7z LZMA
    * coder, id 0x030101): one range-coded stream, no chunk framing.
    * Null on break. */
  private[functions] def lzmaRawDecode(packed: Array[Byte], propsByte: Int,
      unpackSize: Int): Array[Byte] = {
    try {
      if (propsByte >= 9 * 5 * 5 || unpackSize < 0 || unpackSize > MaxOut)
        fail()
      val c = new Cursor(packed)
      val out = new java.io.ByteArrayOutputStream()
      val win = new Lzma.GrowWindow(out)
      val st = new Lzma.State(propsByte)
      Lzma.decodeChunk(c, st, win, 0, unpackSize, packed.length)
      win.flush()
      out.toByteArray
    } catch { case Corrupt => null; case NonFatal(_) => null }
  }

  /** Raw literal-only LZMA1 stream (fixture side of the 7z LZMA
    * coder): (props byte, packed bytes). */
  private[graft] def lzmaRawEncodeLiterals(
      data: Array[Byte]): (Int, Array[Byte]) = {
    val lc = 3; val lp = 0; val pb = 2
    (
      (pb * 5 + lp) * 9 + lc,
      encodeLiteralBody(data, 0, data.length, lc, lp, pb))
  }

  // -------------------------------------- streaming LZMA2 (ranged 7z path)

  /** The 7z LZMA2 coder's declared dictionary size — its single props
    * byte encodes `(2 | (b & 1)) << (b / 2 + 11)` (7-Zip Lzma2Dec.c);
    * -1 when the props are malformed. This is the STREAMING path's
    * window bound: a decode never needs to look further back. */
  private[graft] def lzma2DictSize(props: Array[Byte]): Long = {
    if (props == null || props.length != 1) return -1L
    val b = props(0) & 0xFF
    if (b > 40) -1L
    else if (b == 40) 0xFFFFFFFFL
    else (2L | (b & 1L)) << (b / 2 + 11)
  }

  /** What the ranged 7z member reader pulls on: one call, one batch of
    * decoded bytes, null at clean end — implemented by the chunked
    * LZMA2 and raw LZMA1 streaming decoders so the slice iterator is
    * coder-agnostic. */
  private[graft] trait StreamDecoder {
    def nextChunk(): Array[Byte]
    def finished: Boolean
    def unpacked: Long
  }

  /** PULL-mode streaming LZMA2 chunk decoder — the engine under the
    * ranged 7z member reader ([[graft.sources.Ranged7z]]): one call
    * decodes ONE chunk (≤ 2 MiB unpacked by the format) and returns its
    * bytes; null after the clean 0x00 terminator. Heap is the ring
    * window (the coder's declared dictionary, floored at 128 KiB so the
    * ring's 64 KiB drain block always fits) plus one packed chunk
    * (≤ 64 KiB by the format) — NEVER the member, which is the whole
    * point: a 50 GB `Posts.xml` decodes in O(dict-window).
    *
    * `expect` bounds total output (the folder's declared unpack size —
    * the zip-bomb guard the bounded path gets from [[MaxOut]]); any
    * break (truncation, corrupt range coding, size overrun, a
    * back-reference past the declared window) throws IOException — the
    * routing currency of the ranged readers. */
  private[graft] final class Lzma2StreamReader(in: java.io.InputStream,
      windowBytes: Int, expect: Long) extends StreamDecoder {
    private val pend = new java.io.ByteArrayOutputStream()
    private val win = new Lzma.RingWindow(
      math.max(windowBytes, 1 << 17), (b, o, n) => pend.write(b, o, n))
    private var st: Lzma.State = null
    private var props = -1
    private var dictStart = 0L
    private var done = false

    /** Total bytes decoded so far. */
    def unpacked: Long = win.size
    /** True once the 0x00 end marker was consumed. */
    def finished: Boolean = done

    private def corrupt(why: String): Nothing =
      throw new java.io.IOException(s"lzma2 stream: $why")
    private def u8(): Int = {
      val c = in.read()
      if (c < 0) corrupt("truncated")
      c
    }
    private def readFully(n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      var got = 0
      while (got < n) {
        val r = in.read(b, got, n - got)
        if (r <= 0) corrupt("truncated")
        got += r
      }
      b
    }

    /** Decode the next chunk; its decoded bytes, or null at clean
      * end-of-stream. */
    def nextChunk(): Array[Byte] = {
      if (done) return null
      val control = u8()
      if (control == 0) {
        done = true
        if (win.size != expect) corrupt("unpacked size mismatch")
      } else if (control == 1 || control == 2) {
        if (control == 1) dictStart = win.size
        val n = ((u8() << 8) | u8()) + 1
        if (win.size + n > expect) corrupt("overruns declared size")
        val b = readFully(n)
        var i = 0
        while (i < n) { win.put(b(i)); i += 1 }
        st = null // an uncompressed chunk invalidates LZMA state
      } else if ((control & 0x80) != 0) {
        val unpack = (((control & 0x1F) << 16) | (u8() << 8) | u8()) + 1
        val pack = ((u8() << 8) | u8()) + 1
        val reset = (control >>> 5) & 3
        if (reset >= 2) {
          props = u8()
          if (props >= 9 * 5 * 5) corrupt("bad chunk props")
        }
        if (reset == 3) dictStart = win.size
        if (props < 0) corrupt("first chunk carries no props")
        if (reset >= 1 || st == null) st = new Lzma.State(props)
        if (win.size + unpack > expect) corrupt("overruns declared size")
        val packed = readFully(pack)
        try Lzma.decodeChunk(new Cursor(packed), st, win, dictStart,
          unpack, pack)
        catch { case Corrupt => corrupt("corrupt chunk") }
      } else corrupt("bad control byte")
      win.drain()
      val out = pend.toByteArray
      pend.reset()
      if (out.isEmpty && done) null else out
    }
  }

  /** The 7z LZMA coder's declared dictionary size — props bytes 1-4,
    * little-endian (byte 0 is the lc/lp/pb byte; 7-Zip LzmaDec.c
    * floors the working dictionary at 4 KiB). -1 when malformed. */
  private[graft] def lzma1DictSize(props: Array[Byte]): Long =
    if (props == null || props.length < 5) -1L
    else {
      val d = (props(1) & 0xFFL) | ((props(2) & 0xFFL) << 8) |
        ((props(3) & 0xFFL) << 16) | ((props(4) & 0xFFL) << 24)
      math.max(d, 1L << 12)
    }

  /** PULL-mode streaming decoder for a RAW LZMA1 stream with a known
    * unpacked size — the 7z LZMA coder (id 0x030101), which pre-2015
    * 7-Zip wrote by default: ONE range-coded stream, no chunk framing,
    * no resets, so the whole member is a single sequential decode —
    * but through the same O(dict-window) ring as LZMA2, which is what
    * lifts the bounded path's 256 MiB member cap
    * ([[graft.sources.Ranged7z]]). Each [[nextChunk]] call decodes
    * ~1 MiB more output (a match is never split, so a call may run
    * slightly over); null once `expect` bytes are out. 7z knows the
    * unpack size from the folder header, so decode stops AT `expect`
    * without requiring the optional end marker; overrunning `expect`,
    * truncation, or corrupt range coding throw IOException — the
    * routing currency of the ranged readers. */
  private[graft] final class Lzma1StreamReader(in: java.io.InputStream,
      props: Array[Byte], windowBytes: Int, expect: Long)
      extends StreamDecoder {
    private val pend = new java.io.ByteArrayOutputStream()
    private val win = new Lzma.RingWindow(
      math.max(windowBytes, 1 << 17), (b, o, n) => pend.write(b, o, n))
    private val st = {
      if (props == null || props.length < 5 ||
        (props(0) & 0xFF) >= 9 * 5 * 5)
        throw new java.io.IOException("lzma1 stream: bad props")
      new Lzma.State(props(0) & 0xFF)
    }
    private val rd = new Lzma.StreamRangeDecoder(in)
    private var inited = false

    /** Total bytes decoded so far. */
    def unpacked: Long = win.size
    /** True once the declared unpack size has been produced. */
    def finished: Boolean = win.size == expect

    /** Decode the next ~1 MiB of output; null at clean end. */
    def nextChunk(): Array[Byte] = {
      if (finished) return null
      try {
        if (!inited) { rd.init(); inited = true }
        val remaining = expect - win.size
        Lzma.decodeRun(rd, st, win, 0L,
          math.min(1L << 20, remaining), remaining)
      } catch { case Corrupt =>
        throw new java.io.IOException("lzma1 stream: corrupt")
      }
      win.drain()
      val out = pend.toByteArray
      pend.reset()
      out
    }
  }

  /** Walk LZMA2 chunk HEADERS without decoding — O(#chunks) reads, no
    * decompression, no window. Returns (resetPoints, unpackTotal,
    * packTotal): `resetPoints` are the (packOffset, unpackOffset)
    * positions of compressed chunks that reset dict+state+PROPS
    * (control `111xxxxx` — an uncompressed dict-reset chunk does not
    * qualify: a later compressed chunk may omit props and expect the
    * pre-split ones) — a decode
    * may START at any of them with fresh state, which is what makes a
    * multi-GB member SPLITTABLE when its encoder emitted resets
    * (multi-threaded 7z does; single-threaded streams yield just the
    * mandatory reset at offset 0 and stay one sequential task).
    * IOException on malformed framing. */
  private[graft] def lzma2SplitScan(
      in: java.io.InputStream): (Seq[(Long, Long)], Long, Long) = {
    def corrupt(): Nothing =
      throw new java.io.IOException("lzma2 stream: bad framing")
    def u8(): Int = {
      val c = in.read()
      if (c < 0) corrupt()
      c
    }
    def skip(n: Long): Unit = {
      var left = n
      while (left > 0) {
        val s = in.skip(left)
        if (s <= 0) {
          if (in.read() < 0) corrupt()
          left -= 1
        } else left -= s
      }
    }
    val resets = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var packOff = 0L
    var unpackOff = 0L
    var done = false
    while (!done) {
      val control = u8()
      if (control == 0) {
        done = true
        packOff += 1
      } else if (control == 1 || control == 2) {
        val n = ((u8() << 8) | u8()) + 1
        skip(n.toLong)
        packOff += 3L + n
        unpackOff += n
      } else if ((control & 0x80) != 0) {
        val unpack = (((control & 0x1F) << 16) | (u8() << 8) | u8()) + 1
        val pack = ((u8() << 8) | u8()) + 1
        val reset = (control >>> 5) & 3
        val hdr = if (reset >= 2) { u8(); 6L } else 5L
        if (reset == 3) resets += ((packOff, unpackOff))
        skip(pack.toLong)
        packOff += hdr + pack
        unpackOff += unpack
      } else corrupt()
    }
    (resets.toSeq, unpackOff, packOff)
  }

  // -------------------------------------------------- LZMA2 chunk layer

  private object Lzma2 {
    /** `budget` is the remaining per-ROW inflate allowance, not a
      * per-block one: the prefiltered path decodes each block into a
      * fresh buffer (the window `before` no longer carries prior
      * blocks), so the caller passes `MaxOut - bytesAlreadyOut` to
      * keep the bound GLOBAL — N delta-filtered blocks cannot stack
      * N × 256 MiB. */
    def decode(c: Cursor, out: java.io.ByteArrayOutputStream,
        budget: Int = MaxOut): Unit = {
      val win = new Lzma.GrowWindow(out)
      var st: Lzma.State = null
      var props = -1
      var dictStart = win.size
      var done = false
      while (!done) {
        val control = c.u8()
        if (control == 0) done = true
        else if (control == 1 || control == 2) {
          if (control == 1) dictStart = win.size
          val n = ((c.u8() << 8) | c.u8()) + 1
          if (win.size + n > budget) fail()
          win.putAll(c.bytes(n))
          st = null // an uncompressed chunk invalidates LZMA state
        } else if ((control & 0x80) != 0) {
          val unpack = (((control & 0x1F) << 16) | (c.u8() << 8) | c.u8()) + 1
          val pack = ((c.u8() << 8) | c.u8()) + 1
          val reset = (control >>> 5) & 3
          if (reset >= 2) {
            props = c.u8()
            if (props >= 9 * 5 * 5) fail()
          }
          if (reset == 3) dictStart = win.size
          if (props < 0) fail() // first LZMA chunk must carry props
          if (reset >= 1 || st == null) st = new Lzma.State(props)
          if (win.size + unpack > budget) fail()
          Lzma.decodeChunk(c, st, win, dictStart, unpack, pack)
        } else fail()
      }
      win.flush()
    }
  }

  // --------------------------------------------------------- LZMA layer

  private[functions] object Lzma {

    /** Probability model + machine state, persistent across chunks
      * unless the LZMA2 control byte resets it. */
    final class State(propsByte: Int) {
      val lc: Int = propsByte % 9
      val lp: Int = (propsByte / 9) % 5
      val pb: Int = propsByte / 45
      val pbMask: Int = (1 << pb) - 1
      val lpMask: Int = (1 << lp) - 1
      var state = 0
      var rep0 = 0; var rep1 = 0; var rep2 = 0; var rep3 = 0
      val isMatch = probs(12 << 4)
      val isRep = probs(12)
      val isRepG0 = probs(12)
      val isRepG1 = probs(12)
      val isRepG2 = probs(12)
      val isRep0Long = probs(12 << 4)
      val posSlot = probs(4 * 64)
      val specPos = probs(115)
      val align = probs(16)
      val lenChoice = probs(2)
      val lenLow = probs(16 * 8)
      val lenMid = probs(16 * 8)
      val lenHigh = probs(256)
      val repChoice = probs(2)
      val repLow = probs(16 * 8)
      val repMid = probs(16 * 8)
      val repHigh = probs(256)
      val lit = probs(0x300 << (lc + lp))
      private def probs(n: Int): Array[Short] = Array.fill(n)(1024.toShort)
    }

    /** Range decoder over an abstract byte source. Exactly two
      * subclasses — the ARRAY form (LZMA2 chunks: pack size known and
      * consumed exactly) and the STREAM form (raw LZMA1: one
      * range-coded stream pulled on demand, the multi-GB 7z member
      * path) — so the per-normalize `nextByte` call site stays
      * bimorphic and JIT-inlineable. */
    private[functions] sealed abstract class RangeDecoder {
      var range: Int = -1
      var code: Int = 0
      /** One pack byte; fails on truncation. */
      protected def nextByte(): Int
      def init(): Unit = {
        if (nextByte() != 0) fail()
        code = 0
        var i = 0
        while (i < 4) { code = (code << 8) | nextByte(); i += 1 }
      }
      // normalization AFTER each operation, as the LZMA spec decoder
      // does — the lazy variant consumes one byte less at chunk end and
      // breaks the exact-pack-size check against real encoders
      @inline private def normalize(): Unit = {
        if ((range & 0xFF000000) == 0) {
          range <<= 8
          code = (code << 8) | nextByte()
        }
      }
      def bit(p: Array[Short], i: Int): Int = {
        val pr = p(i)
        val bound = (range >>> 11) * pr
        val r =
          if ((code ^ 0x80000000) < (bound ^ 0x80000000)) {
            range = bound
            p(i) = (pr + ((2048 - pr) >>> 5)).toShort
            0
          } else {
            code -= bound
            range -= bound
            p(i) = (pr - (pr >>> 5)).toShort
            1
          }
        normalize()
        r
      }
      def tree(p: Array[Short], off: Int, n: Int): Int = {
        var m = 1
        var i = 0
        while (i < n) { m = (m << 1) | bit(p, off + m); i += 1 }
        m - (1 << n)
      }
      def treeRev(p: Array[Short], off: Int, n: Int): Int = {
        var m = 1
        var sym = 0
        var i = 0
        while (i < n) {
          val x = bit(p, off + m)
          m = (m << 1) | x
          sym |= x << i
          i += 1
        }
        sym
      }
      def direct(n: Int): Int = {
        var res = 0
        var i = 0
        while (i < n) {
          range >>>= 1
          code -= range
          val t = 0 - (code >>> 31)
          code += range & t
          normalize()
          res = (res << 1) + t + 1
          i += 1
        }
        res
      }
    }

    private final class ArrayRangeDecoder(val b: Array[Byte],
        var pos: Int, val end: Int) extends RangeDecoder {
      protected def nextByte(): Int = {
        if (pos >= end) fail()
        val x = b(pos) & 0xFF
        pos += 1
        x
      }
    }

    /** Stream form with its own refill buffer: the underlying source
      * is a bounded Hadoop pread envelope — a virtual read() per pack
      * byte would dominate the decode. */
    private[functions] final class StreamRangeDecoder(
        in: java.io.InputStream) extends RangeDecoder {
      private val buf = new Array[Byte](1 << 16)
      private var pos = 0
      private var lim = 0
      protected def nextByte(): Int = {
        if (pos >= lim) {
          lim = in.read(buf, 0, buf.length)
          pos = 0
          if (lim <= 0) fail()
        }
        val x = buf(pos) & 0xFF
        pos += 1
        x
      }
    }

    private def decodeLen(rd: RangeDecoder, choice: Array[Short],
        low: Array[Short], mid: Array[Short], high: Array[Short],
        posState: Int): Int = {
      if (rd.bit(choice, 0) == 0) 2 + rd.tree(low, posState << 3, 3)
      else if (rd.bit(choice, 1) == 0) 10 + rd.tree(mid, posState << 3, 3)
      else 18 + rd.tree(high, 0, 8)
    }

    /** One LZMA2 compressed chunk: exactly `unpack` bytes out of
      * exactly `pack` bytes in, state carried in `st`, output through
      * the block's shared read-back window. The LZMA position counter
      * (posState / lp context) is relative to the last DICT reset. */
    def decodeChunk(c: Cursor, st: State, winB: LzWindow,
        dictStart: Long, unpack: Int, pack: Int): Unit = {
      val rd = new ArrayRangeDecoder(c.b, c.pos, c.pos + pack)
      if (rd.end > c.b.length) fail()
      rd.init()
      decodeRun(rd, st, winB, dictStart, unpack, unpack)
      if (rd.pos != rd.end) fail()
      c.pos = rd.end
    }

    /** The LZMA symbol loop shared by the chunked (LZMA2) and raw
      * (LZMA1) decoders: decodes until AT LEAST `target` bytes have
      * been produced this call — a match is never split, so the call
      * may overshoot the target — while producing more than `hard`
      * bytes fails (the declared-size zip-bomb guard; with
      * `target == hard`, as every LZMA2 chunk passes, any overshoot is
      * structural corruption). Returns the bytes produced. */
    private[functions] def decodeRun(rd: RangeDecoder, st: State,
        winB: LzWindow, dictStart: Long, target: Long,
        hard: Long): Long = {
      var left = target
      var hardLeft = hard
      while (left > 0) {
        val total = winB.size - dictStart
        val posState = (total & st.pbMask).toInt
        if (rd.bit(st.isMatch, (st.state << 4) | posState) == 0) {
          // literal
          val prev = if (winB.size > dictStart) winB.at(winB.size - 1) else 0
          val base = 0x300 * ((((total & st.lpMask).toInt) << st.lc) + ((prev & 0xFF) >>> (8 - st.lc)))
          var sym = 1
          if (st.state >= 7) {
            if (winB.size - st.rep0 - 1 < dictStart) fail()
            var matchByte = winB.at(winB.size - st.rep0 - 1) & 0xFF
            var broke = false
            while (sym < 0x100 && !broke) {
              val mBit = (matchByte >> 7) & 1
              matchByte = (matchByte << 1) & 0xFF
              val b = rd.bit(st.lit, base + ((1 + mBit) << 8) + sym)
              sym = (sym << 1) | b
              if (mBit != b) broke = true
            }
          }
          while (sym < 0x100) sym = (sym << 1) | rd.bit(st.lit, base + sym)
          winB.put((sym & 0xFF).toByte)
          left -= 1
          hardLeft -= 1
          st.state = if (st.state < 4) 0 else if (st.state < 10) st.state - 3 else st.state - 6
        } else {
          var len = 0
          if (rd.bit(st.isRep, st.state) == 0) {
            // new match
            st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = st.rep0
            len = decodeLen(rd, st.lenChoice, st.lenLow, st.lenMid, st.lenHigh, posState)
            val lenState = math.min(len - 2, 3)
            val slot = rd.tree(st.posSlot, lenState << 6, 6)
            if (slot < 4) st.rep0 = slot
            else {
              val nd = (slot >> 1) - 1
              var dist = (2 | (slot & 1)) << nd
              if (slot < 14) dist += rd.treeRev(st.specPos, dist - slot, nd)
              else {
                dist += rd.direct(nd - 4) << 4
                dist += rd.treeRev(st.align, 0, 4)
              }
              // dist is a 32-bit unsigned quantity decoded into an Int:
              // 0xFFFFFFFF is the end marker (not allowed in LZMA2
              // chunks) and anything else >= 2^31 went negative here —
              // both are structurally invalid for a window bounded at
              // MaxOut, and a negative rep0 would slip past the
              // `winB.size - rep0 - 1 < dictStart` guard below, so
              // reject the whole sign-flipped range, not just -1
              if (dist < 0) fail()
              st.rep0 = dist
            }
            st.state = if (st.state < 7) 7 else 10
          } else {
            // rep match
            if (rd.bit(st.isRepG0, st.state) == 0) {
              if (rd.bit(st.isRep0Long, (st.state << 4) | posState) == 0) {
                // short rep: one byte at rep0
                if (winB.size - st.rep0 - 1 < dictStart) fail()
                winB.put(winB.at(winB.size - st.rep0 - 1))
                left -= 1
                hardLeft -= 1
                st.state = if (st.state < 7) 9 else 11
                len = -1 // handled
              }
            } else if (rd.bit(st.isRepG1, st.state) == 0) {
              val d = st.rep1; st.rep1 = st.rep0; st.rep0 = d
            } else if (rd.bit(st.isRepG2, st.state) == 0) {
              val d = st.rep2; st.rep2 = st.rep1; st.rep1 = st.rep0; st.rep0 = d
            } else {
              val d = st.rep3; st.rep3 = st.rep2; st.rep2 = st.rep1
              st.rep1 = st.rep0; st.rep0 = d
            }
            if (len == 0) {
              len = decodeLen(rd, st.repChoice, st.repLow, st.repMid, st.repHigh, posState)
              st.state = if (st.state < 7) 8 else 11
            }
          }
          if (len > 0) {
            if (len > hardLeft) fail()
            if (winB.size - st.rep0 - 1 < dictStart) fail()
            var k = 0
            while (k < len) {
              winB.put(winB.at(winB.size - st.rep0 - 1))
              k += 1
            }
            left -= len
            hardLeft -= len
          }
        }
      }
      target - left
    }

    /** The window the LZMA match copier reads back from. Long-addressed
      * so ONE decode loop serves both postures: the in-memory
      * [[GrowWindow]] (whole output buffered, bounded by [[MaxOut]])
      * and the streaming [[RingWindow]] (only the last dictionary-size
      * bytes held, output handed off as it falls out of reach — the
      * multi-GB 7z member path). */
    trait LzWindow {
      def size: Long
      def at(i: Long): Byte
      def put(b: Byte): Unit
    }

    /** Read-back-able window over the ByteArrayOutputStream: LZMA
      * matches copy from earlier OUTPUT, which BAOS can't address, so
      * buffer the block locally and flush once at block end. Int-sized
      * internally — every caller bounds output at [[MaxOut]]. */
    final class GrowWindow(out: java.io.ByteArrayOutputStream) extends LzWindow {
      private val before = out.toByteArray
      private var tailArr = new Array[Byte](1 << 16)
      private var tailLen = 0
      def size: Long = (before.length + tailLen).toLong
      def at(i0: Long): Byte = {
        if (i0 < 0 || i0 >= size) fail() // never read capacity slack
        val i = i0.toInt
        if (i < before.length) before(i)
        else tailArr(i - before.length)
      }
      def put(b: Byte): Unit = {
        if (tailLen == tailArr.length)
          tailArr = java.util.Arrays.copyOf(tailArr, tailArr.length * 2)
        tailArr(tailLen) = b
        tailLen += 1
      }
      def putAll(b: Array[Byte]): Unit = {
        var i = 0
        while (i < b.length) { put(b(i)); i += 1 }
      }
      def flush(): Unit = out.write(tailArr, 0, tailLen)
    }

    /** Fixed-capacity RING window for streaming decode: holds the last
      * `capacity` bytes only (capacity ≥ the stream's declared
      * dictionary size, so every legal match distance stays
      * addressable) and hands older bytes to `sink` before they are
      * overwritten — heap is O(window) however large the total output
      * grows. A read further back than the ring fails like any other
      * corruption (a legal stream never references past its declared
      * dictionary). Capacity must exceed the 64 KiB drain block, which
      * [[Xz.Lzma2StreamReader]] guarantees by flooring it at 128 KiB. */
    final class RingWindow(capacity: Int,
        sink: (Array[Byte], Int, Int) => Unit) extends LzWindow {
      private val buf = new Array[Byte](capacity)
      private var total = 0L
      private var emitted = 0L
      def size: Long = total
      def at(i: Long): Byte = {
        if (i < 0 || i >= total || total - i > capacity) fail()
        buf((i % capacity).toInt)
      }
      def put(b: Byte): Unit = {
        buf((total % capacity).toInt) = b
        total += 1
        if (total - emitted >= (1 << 16)) drain()
      }
      /** Hand every pending byte to the sink (they stay readable in the
        * ring until overwritten). */
      def drain(): Unit = {
        while (emitted < total) {
          val start = (emitted % capacity).toInt
          val n = math.min(total - emitted, (capacity - start).toLong).toInt
          sink(buf, start, n)
          emitted += n
        }
      }
    }
  }

  // ------------------------------------------------------------- encode

  /** Subset writer for fixtures: one CRC32-checked block of LZMA2.
    * `literalLzma = false` → uncompressed chunks (0x01 then 0x02);
    * `true` → literal-only LZMA chunks through a real range encoder
    * (lc=3 lp=0 pb=2, props+dict reset on the first chunk, state kept
    * across following chunks). */
  def encode(data: Array[Byte], literalLzma: Boolean = true,
      chunkSize: Int = 1 << 15,
      prefilter: Option[(Int, Array[Byte])] = None,
      greedyMatch: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic, 0, 6)
    out.write(0); out.write(1) // check = CRC32
    writeLe32(out, crc32(Array[Byte](0, 1), 0, 2))

    // the prefiltered view of the data (delta / BCJ x86 applied in
    // ENCODE direction before compression, exactly as xz chains them)
    val filtered = prefilter match {
      case None => data
      case Some((0x03, props)) =>
        val b = data.clone()
        deltaEncode(b, (props(0) & 0xFF) + 1)
        b
      case Some((0x04, _)) =>
        val b = data.clone()
        x86Convert(b, 0, encoding = true)
        b
      case Some((id, _)) =>
        throw new IllegalArgumentException(s"unsupported prefilter $id")
    }

    // block header: no declared sizes, [prefilter +] LZMA2, 32 MiB dict
    val bh = new java.io.ByteArrayOutputStream()
    bh.write(0) // placeholder for size byte
    bh.write(if (prefilter.isDefined) 1 else 0) // nFilters - 1
    prefilter.foreach { case (id, props) =>
      bh.write(id)
      bh.write(props.length)
      bh.write(props, 0, props.length)
    }
    bh.write(0x21) // filter id (fits a 1-byte VLI)
    bh.write(1) // props size
    bh.write(26) // dict size code: (2 | (26 & 1)) << (26/2 + 11) = 32 MiB
    while ((bh.size() + 4) % 4 != 0) bh.write(0)
    val bhArr = bh.toByteArray
    bhArr(0) = (((bhArr.length + 4) / 4) - 1).toByte
    out.write(bhArr, 0, bhArr.length)
    writeLe32(out, crc32(bhArr, 0, bhArr.length))
    val headerSize = bhArr.length + 4

    // LZMA2 data (an empty input is a block of just the end marker)
    val dataStart = out.size()
    var off = 0
    var first = true
    while (off < filtered.length) {
      val n = math.min(chunkSize, filtered.length - off)
      if (greedyMatch) {
        val chunk = encodeGreedyChunk(filtered, off, n)
        out.write(chunk, 0, chunk.length)
      } else if (literalLzma) {
        val chunk = encodeLiteralChunk(filtered, off, n)
        out.write(chunk, 0, chunk.length)
      } else {
        out.write(if (first) 1 else 2)
        out.write((n - 1) >>> 8); out.write((n - 1) & 0xFF)
        out.write(filtered, off, n)
      }
      off += n
      first = false
    }
    out.write(0) // LZMA2 end
    val compSize = out.size() - dataStart
    // block padding: header + data padded to a 4-byte boundary
    var padded = headerSize + compSize
    while (padded % 4 != 0) { out.write(0); padded += 1 }
    writeLe32(out, crc32(data, 0, data.length))
    val unpadded = headerSize.toLong + compSize + 4

    // index
    val idx = new java.io.ByteArrayOutputStream()
    idx.write(0)
    writeVli(idx, 1)
    writeVli(idx, unpadded)
    writeVli(idx, data.length.toLong)
    while (idx.size() % 4 != 0) idx.write(0)
    val idxArr = idx.toByteArray
    out.write(idxArr, 0, idxArr.length)
    writeLe32(out, crc32(idxArr, 0, idxArr.length))
    val indexSize = idxArr.length + 4

    // footer
    val tail = new java.io.ByteArrayOutputStream()
    writeLe32(tail, indexSize / 4 - 1)
    tail.write(0); tail.write(1)
    val tailArr = tail.toByteArray
    writeLe32(out, crc32(tailArr, 0, tailArr.length))
    out.write(tailArr, 0, tailArr.length)
    out.write('Y'); out.write('Z')
    out.toByteArray
  }

  private def writeLe32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
    out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
  }

  private def writeVli(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while (v >= 0x80) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  /** One literal-only LZMA chunk over data[off, off+n): control byte
    * with props+dict reset when `first`, plain state reset otherwise
    * (self-contained chunks keep the fixture simple). */
  /** The raw range-coded literal stream shared by the LZMA2 chunk
    * writer and the 7z raw-LZMA fixture writer. */
  private def encodeLiteralBody(data: Array[Byte], off: Int, n: Int,
      lc: Int, lp: Int, pb: Int): Array[Byte] = {
    val isMatch = Array.fill[Short](12 << 4)(1024)
    val lit = Array.fill[Short](0x300 << (lc + lp))(1024)
    val body = new java.io.ByteArrayOutputStream()
    val re = new RangeEncoder(body)
    var i = 0
    while (i < n) {
      val total = i // dict reset per chunk → positions restart
      val posState = total & ((1 << pb) - 1)
      re.encodeBit(isMatch, 0 << 4 | posState, 0) // state stays 0: literals only
      val prev = if (i == 0) 0 else data(off + i - 1) & 0xFF
      val base = 0x300 * ((total & ((1 << lp) - 1)) << lc | (prev >>> (8 - lc)))
      val sym = data(off + i) & 0xFF
      var m = 1
      var k = 7
      while (k >= 0) {
        val b = (sym >>> k) & 1
        re.encodeBit(lit, base + m, b)
        m = (m << 1) | b
        k -= 1
      }
      i += 1
    }
    re.flush()
    body.toByteArray
  }

  /** GREEDY match-emitting LZMA body (fixture side): longest match of
    * length ≥ 4 within the chunk window wins, literals otherwise —
    * including MATCHED-literal encoding after a match (state ≥ 7),
    * so gates exercise the full decode surface hermetically: length
    * trees, pos-slot + reverse-bit-tree + aligned distances, and the
    * match-byte literal context. Spec-exact bit emission; XzSpec
    * proves system xz decodes these frames. */
  private def encodeGreedyBody(data: Array[Byte], off: Int, n: Int,
      lc: Int, lp: Int, pb: Int): Array[Byte] = {
    val isMatch = Array.fill[Short](12 << 4)(1024)
    val isRep = Array.fill[Short](12)(1024)
    val lit = Array.fill[Short](0x300 << (lc + lp))(1024)
    val lenChoice = Array.fill[Short](2)(1024)
    val lenLow = Array.fill[Short](16 * 8)(1024)
    val lenMid = Array.fill[Short](16 * 8)(1024)
    val lenHigh = Array.fill[Short](256)(1024)
    val posSlot = Array.fill[Short](4 * 64)(1024)
    val specPos = Array.fill[Short](115)(1024)
    val align = Array.fill[Short](16)(1024)
    val body = new java.io.ByteArrayOutputStream()
    val re = new RangeEncoder(body)

    def tree(p: Array[Short], base: Int, v: Int, bits: Int): Unit = {
      var m = 1
      var k = bits - 1
      while (k >= 0) {
        val b = (v >>> k) & 1
        re.encodeBit(p, base + m, b)
        m = (m << 1) | b
        k -= 1
      }
    }
    def treeRev(p: Array[Short], base: Int, v: Int, bits: Int): Unit = {
      var m = 1
      var i = 0
      while (i < bits) {
        val b = (v >>> i) & 1
        re.encodeBit(p, base + m, b)
        m = (m << 1) | b
        i += 1
      }
    }

    var state = 0
    var rep0 = 0
    var i = 0
    while (i < n) {
      val posState = i & ((1 << pb) - 1)
      // longest match ≥ 4 within this chunk (dict resets per chunk)
      var bestLen = 0
      var bestDist = 0
      val maxBack = math.min(i, 1 << 12)
      var d = 1
      while (d <= maxBack) {
        var l = 0
        val cap = math.min(n - i, 273)
        while (l < cap && data(off + i + l) == data(off + i - d + l)) l += 1
        if (l > bestLen) { bestLen = l; bestDist = d }
        d += 1
      }
      if (bestLen >= 4) {
        re.encodeBit(isMatch, (state << 4) | posState, 1)
        re.encodeBit(isRep, state, 0)
        val lv = bestLen - 2
        if (lv < 8) {
          re.encodeBit(lenChoice, 0, 0)
          tree(lenLow, posState << 3, lv, 3)
        } else if (lv < 16) {
          re.encodeBit(lenChoice, 0, 1)
          re.encodeBit(lenChoice, 1, 0)
          tree(lenMid, posState << 3, lv - 8, 3)
        } else {
          re.encodeBit(lenChoice, 0, 1)
          re.encodeBit(lenChoice, 1, 1)
          tree(lenHigh, 0, lv - 16, 8)
        }
        val dist = bestDist - 1
        val lenState = math.min(bestLen - 2, 3)
        val slot =
          if (dist < 4) dist
          else {
            val nb = 31 - Integer.numberOfLeadingZeros(dist)
            (nb << 1) | ((dist >>> (nb - 1)) & 1)
          }
        tree(posSlot, lenState << 6, slot, 6)
        if (slot >= 4) {
          val nd = (slot >> 1) - 1
          val base = (2 | (slot & 1)) << nd
          val rest = dist - base
          if (slot < 14) treeRev(specPos, base - slot, rest, nd)
          else {
            re.encodeDirect(rest >>> 4, nd - 4)
            treeRev(align, 0, rest & 15, 4)
          }
        }
        rep0 = dist
        state = if (state < 7) 7 else 10
        i += bestLen
      } else {
        re.encodeBit(isMatch, (state << 4) | posState, 0)
        val prev = if (i == 0) 0 else data(off + i - 1) & 0xFF
        val base = 0x300 * ((i & ((1 << lp) - 1)) << lc | (prev >>> (8 - lc)))
        val sym = data(off + i) & 0xFF
        if (state >= 7) {
          var matchByte = data(off + i - rep0 - 1) & 0xFF
          var m = 1
          var k = 7
          var matched = true
          while (k >= 0) {
            val b = (sym >>> k) & 1
            if (matched) {
              val mb = (matchByte >>> 7) & 1
              matchByte = (matchByte << 1) & 0xFF
              re.encodeBit(lit, base + ((1 + mb) << 8) + m, b)
              if (mb != b) matched = false
            } else re.encodeBit(lit, base + m, b)
            m = (m << 1) | b
            k -= 1
          }
        } else {
          var m = 1
          var k = 7
          while (k >= 0) {
            val b = (sym >>> k) & 1
            re.encodeBit(lit, base + m, b)
            m = (m << 1) | b
            k -= 1
          }
        }
        state = if (state < 4) 0 else if (state < 10) state - 3 else state - 6
        i += 1
      }
    }
    re.flush()
    body.toByteArray
  }

  /** One greedy-match LZMA2 chunk (reset 3 per chunk, like the literal
    * writer). */
  private def encodeGreedyChunk(data: Array[Byte], off: Int,
      n: Int): Array[Byte] = {
    val lc = 3; val lp = 0; val pb = 2
    val props = (pb * 5 + lp) * 9 + lc
    val packed = encodeGreedyBody(data, off, n, lc, lp, pb)
    val outc = new java.io.ByteArrayOutputStream()
    outc.write(0x80 | (3 << 5) | (((n - 1) >>> 16) & 0x1F))
    outc.write(((n - 1) >>> 8) & 0xFF); outc.write((n - 1) & 0xFF)
    outc.write((packed.length - 1) >>> 8); outc.write((packed.length - 1) & 0xFF)
    outc.write(props)
    outc.write(packed, 0, packed.length)
    outc.toByteArray
  }

  private def encodeLiteralChunk(data: Array[Byte], off: Int,
      n: Int): Array[Byte] = {
    val lc = 3; val lp = 0; val pb = 2
    val props = (pb * 5 + lp) * 9 + lc
    val packed = encodeLiteralBody(data, off, n, lc, lp, pb)
    val outc = new java.io.ByteArrayOutputStream()
    // reset 3 (props + dict) every chunk: keeps each chunk independent
    outc.write(0x80 | (3 << 5) | (((n - 1) >>> 16) & 0x1F))
    outc.write(((n - 1) >>> 8) & 0xFF); outc.write((n - 1) & 0xFF)
    outc.write((packed.length - 1) >>> 8); outc.write((packed.length - 1) & 0xFF)
    outc.write(props)
    outc.write(packed, 0, packed.length)
    outc.toByteArray
  }

  private final class RangeEncoder(out: java.io.ByteArrayOutputStream) {
    private var low = 0L
    private var range = -1 // 0xFFFFFFFF
    private var cacheSize = 1L
    private var cache = 0
    def encodeDirect(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        range >>>= 1
        if (((v >>> k) & 1) == 1) low += range.toLong & 0xFFFFFFFFL
        if ((range & 0xFF000000) == 0) {
          range <<= 8
          shiftLow()
        }
        k -= 1
      }
    }
    def encodeBit(p: Array[Short], i: Int, bit: Int): Unit = {
      val pr = p(i)
      val bound = (range >>> 11) * pr
      if (bit == 0) {
        range = bound
        p(i) = (pr + ((2048 - pr) >>> 5)).toShort
      } else {
        low += bound.toLong & 0xFFFFFFFFL
        range -= bound
        p(i) = (pr - (pr >>> 5)).toShort
      }
      while ((range & 0xFF000000) == 0) {
        range <<= 8
        shiftLow()
      }
    }
    private def shiftLow(): Unit = {
      if ((low & 0xFFFFFFFFL) < 0xFF000000L || (low >>> 32) != 0) {
        var temp = cache
        var continue = true
        while (continue) {
          out.write(((temp + (low >>> 32)) & 0xFF).toInt)
          temp = 0xFF
          cacheSize -= 1
          continue = cacheSize != 0
        }
        cache = ((low >>> 24) & 0xFF).toInt
      }
      cacheSize += 1
      low = (low << 8) & 0xFFFFFFFFL
    }
    def flush(): Unit = {
      var i = 0
      while (i < 5) { shiftLow(); i += 1 }
    }
  }
}

/** `xz_bytes(binary)` → decompressed bytes; null when the payload is
  * not XZ or any structural / checksum break occurs (see [[Xz]]). */
case class XzBytes(child: Expression) extends BinaryCodecExpression("xz_bytes", BinaryType) {
  override def nullSafeEval(payload: Any): Any =
    Xz.decode(payload.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): XzBytes =
    copy(child = newChild)
}

object XzBytes {
  def xzBytes(media: Column): Column =
    GraftColumnShim.column(XzBytes(GraftColumnShim.expression(media)))
}
