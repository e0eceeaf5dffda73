package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** Library-free FLAC FRAME CODEC (the public xiph format spec /
  * RFC 9639): [[AudioHeaders.parseFlac]] stops at STREAMINFO; this decodes
  * the audio — frame headers (sync, coded numbers, CRC-8), all four
  * subframe types (CONSTANT, VERBATIM, FIXED orders 0–4, LPC up to 32),
  * Rice-coded residuals (both 4- and 5-bit parameter widths, partition
  * orders, and the escape-to-raw form), wasted-bits shifts, the four
  * stereo decorrelation modes (independent, left-side, right-side,
  * mid-side), and the trailing CRC-16 — the audio twin of the
  * from-scratch JPEG work: FLAC is lossless, so a decode gate can be
  * integer-exact. The encoder exists to build REAL multi-frame fixtures
  * (reference anchor: the payloads openmsistream moves through its chunk
  * pipeline are exactly such opaque-but-decodable lab files,
  * `data_file_io/entity/data_file_chunk.py`); it picks CONSTANT when a
  * block is flat, cycles VERBATIM/FIXED/LPC otherwise, estimates the Rice
  * parameter per partition and escapes to raw when residuals outgrow the
  * 4-bit parameter space — every decoder path is exercised by real
  * encoder output, no hand-woven bitstreams.
  *
  * Decode failures (bad sync, CRC mismatch, bit underrun, reserved codes)
  * return null — malformed media routes, never throws. */
object FlacCodec {

  // ------------------------------------------------------------- CRC
  // CRC-8 poly 0x07 (frame header), CRC-16 poly 0x8005 (whole frame),
  // both init 0, MSB-first — RFC 9639 §9.
  private val Crc8Table: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i
      var k = 0
      while (k < 8) { c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff; k += 1 }
      t(i) = c
      i += 1
    }
    t
  }
  private val Crc16Table: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 8
      var k = 0
      while (k < 8) {
        c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff else (c << 1) & 0xffff
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }
  private def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = Crc8Table(c ^ (b(i) & 0xff)); i += 1 }
    c
  }
  private def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = Crc16Table(((c >> 8) ^ (b(i) & 0xff)) & 0xff) ^ ((c << 8) & 0xffff); i += 1 }
    c
  }

  // ------------------------------------------------------------- bit IO
  /** MSB-first writer that exposes its byte buffer (frame CRCs cover the
    * byte-aligned prefix, so the encoder needs to read back what it wrote
    * — [[MsbBitWriter]] hides its buffer). */
  private final class FrameWriter {
    private var buf = new Array[Byte](1024)
    private var bytes = 0
    private var acc = 0
    private var nbits = 0
    def size: Int = { require(nbits == 0, "unaligned"); bytes }
    def bit(v: Int): Unit = {
      acc = (acc << 1) | (v & 1); nbits += 1
      if (nbits == 8) {
        if (bytes == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        buf(bytes) = acc.toByte; bytes += 1; acc = 0; nbits = 0
      }
    }
    def u(v: Int, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) { bit((v >> i) & 1); i -= 1 }
    }
    def align(): Unit = while (nbits != 0) bit(0)
    def bytesSoFar: Array[Byte] = buf
    def nBytes: Int = bytes
    def result(): Array[Byte] = { align(); java.util.Arrays.copyOf(buf, bytes) }
  }

  // The decoder reads through the SHARED [[MsbBitReader]] (BitIo.scala's
  // one-implementation rule): the bit/u core, underrun guard, and the
  // FLAC additions (s/unary/alignToByte/bytePos) live there.

  // --------------------------------------------------------- encoder
  /** Real FLAC from interleaved-per-channel PCM. `pcm(ch)(i)`, all
    * channels equal length; bits ∈ 8/16/24. Stereo frames cycle the four
    * channel assignments; mono/other channel counts encode independent. */
  def encode(channels: Int, rate: Int, bits: Int, pcm: Array[Array[Int]],
      blockSize: Int = 4096): Array[Byte] = {
    require(channels >= 1 && channels <= 8 && pcm.length == channels)
    require(bits == 8 || bits == 16 || bits == 24)
    require(blockSize >= 16 && blockSize <= 65535)
    val total = pcm(0).length.toLong
    val nFrames = (total + blockSize - 1) / blockSize
    // the coded frame number covers 1–4 UTF-8-style bytes here (< 2^21
    // frames); beyond that encode must refuse rather than silently write
    // a corrupt header byte the decoder cannot follow
    require(nFrames < (1L << 21),
      s"$nFrames frames exceeds the 2^21 coded-frame-number range; " +
        "use a larger blockSize")
    // STREAMINFO min/max block size must reflect the ACTUAL frames
    // (RFC 9639 §8.2: the last block is excluded from the minimum)
    val lastBlock = (total - (nFrames - 1) * blockSize).toInt
    val declaredBlock = if (nFrames == 1) lastBlock else blockSize
    val header = AudioHeaders.buildFlac(channels, rate, bits, total,
      Array.emptyByteArray,
      minBlock = math.max(16, declaredBlock), maxBlock = math.max(16, declaredBlock))
    val out = new java.io.ByteArrayOutputStream(header.length + pcm(0).length * 2)
    out.write(header)
    var start = 0
    var frameIdx = 0
    while (start < pcm(0).length) {
      val n = math.min(blockSize, pcm(0).length - start)
      out.write(encodeFrame(channels, bits, pcm, start, n, frameIdx))
      start += n
      frameIdx += 1
    }
    out.toByteArray
  }

  private def sampleSizeCode(bits: Int): Int = bits match {
    case 8 => 1
    case 16 => 4
    case 24 => 6
  }

  private def encodeFrame(channels: Int, bits: Int, pcm: Array[Array[Int]],
      start: Int, n: Int, frameIdx: Int): Array[Byte] = {
    val w = new FrameWriter
    // header: sync(14) 0b11111111111110, reserved(1)=0, blocking(1)=0 fixed
    w.u(0x3ffe, 14); w.bit(0); w.bit(0)
    w.u(7, 4) // block size: 16-bit n-1 follows
    w.u(0, 4) // sample rate: from STREAMINFO
    val assign =
      if (channels == 2) frameIdx % 4 match {
        case 0 => 0x1 // independent stereo
        case 1 => 0x8 // left-side
        case 2 => 0x9 // right-side
        case _ => 0xa // mid-side
      } else channels - 1
    w.u(assign, 4)
    w.u(sampleSizeCode(bits), 3)
    w.bit(0)
    // coded (UTF-8-style) frame number, 1–4 bytes (< 2^21 — encode() guards)
    val fn = frameIdx
    if (fn < 0x80) w.u(fn, 8)
    else if (fn < 0x800) { w.u(0xc0 | (fn >> 6), 8); w.u(0x80 | (fn & 0x3f), 8) }
    else if (fn < 0x10000) {
      w.u(0xe0 | (fn >> 12), 8); w.u(0x80 | ((fn >> 6) & 0x3f), 8)
      w.u(0x80 | (fn & 0x3f), 8)
    } else {
      w.u(0xf0 | (fn >> 18), 8); w.u(0x80 | ((fn >> 12) & 0x3f), 8)
      w.u(0x80 | ((fn >> 6) & 0x3f), 8); w.u(0x80 | (fn & 0x3f), 8)
    }
    w.u(n - 1, 16)
    w.align()
    w.u(crc8(w.bytesSoFar, 0, w.nBytes), 8)
    // channel signals under the chosen decorrelation
    val chans: Array[(Array[Int], Int)] = assign match {
      case a if a < 8 =>
        Array.tabulate(channels)(c =>
          (java.util.Arrays.copyOfRange(pcm(c), start, start + n), bits))
      case 0x8 => // left + side(l-r)
        val l = java.util.Arrays.copyOfRange(pcm(0), start, start + n)
        val s = Array.tabulate(n)(i => pcm(0)(start + i) - pcm(1)(start + i))
        Array((l, bits), (s, bits + 1))
      case 0x9 => // side + right
        val s = Array.tabulate(n)(i => pcm(0)(start + i) - pcm(1)(start + i))
        val r = java.util.Arrays.copyOfRange(pcm(1), start, start + n)
        Array((s, bits + 1), (r, bits))
      case _ => // mid + side
        val m = Array.tabulate(n)(i => (pcm(0)(start + i) + pcm(1)(start + i)) >> 1)
        val s = Array.tabulate(n)(i => pcm(0)(start + i) - pcm(1)(start + i))
        Array((m, bits), (s, bits + 1))
    }
    var c = 0
    while (c < chans.length) {
      encodeSubframe(w, chans(c)._1, chans(c)._2, frameIdx + c)
      c += 1
    }
    w.align()
    val crc = crc16(w.bytesSoFar, 0, w.nBytes)
    w.u(crc, 16)
    w.result()
  }

  private def encodeSubframe(w: FrameWriter, x: Array[Int], bps: Int,
      pick: Int): Unit = {
    val n = x.length
    var allEqual = true
    var i = 1
    while (allEqual && i < n) { if (x(i) != x(0)) allEqual = false; i += 1 }
    w.bit(0)
    if (allEqual) {
      w.u(0, 6); w.bit(0) // CONSTANT, no wasted bits
      w.u(x(0) & ((1 << bps) - 1), bps)
    } else if (n < 5 || pick % 3 == 0) {
      w.u(1, 6); w.bit(0) // VERBATIM
      var j = 0
      while (j < n) { w.u(x(j) & ((1 << bps) - 1), bps); j += 1 }
    } else if (pick % 3 == 1) {
      // FIXED order 2: e_i = x_i - 2 x_{i-1} + x_{i-2}
      w.u(0x08 | 2, 6); w.bit(0)
      w.u(x(0) & ((1 << bps) - 1), bps)
      w.u(x(1) & ((1 << bps) - 1), bps)
      val e = Array.tabulate(n - 2)(j => x(j + 2) - 2 * x(j + 1) + x(j))
      encodeResidual(w, e, 2, n, partOrder = 0)
    } else {
      // LPC order 2, coeffs (3, -1), shift 1: pred = (3 x_{i-1} - x_{i-2}) >> 1
      w.u(0x20 | (2 - 1), 6); w.bit(0)
      w.u(x(0) & ((1 << bps) - 1), bps)
      w.u(x(1) & ((1 << bps) - 1), bps)
      w.u(4 - 1, 4) // coefficient precision 4 bits
      w.u(1 & 0x1f, 5) // shift 1 (signed 5-bit field)
      w.u(3 & 0xf, 4) // c1 = 3
      w.u(-1 & 0xf, 4) // c2 = -1
      val e = Array.tabulate(n - 2) { j =>
        val pred = ((3L * x(j + 1) - x(j)) >> 1).toInt
        x(j + 2) - pred
      }
      // partitions require 2^order | blockSize (and a non-empty first
      // partition after warmup) — fall back to a single partition otherwise
      encodeResidual(w, e, 2, n, partOrder = if (n % 2 == 0 && n > 8) 1 else 0)
    }
  }

  /** Rice residual coding (method 00, 4-bit parameters): 2^partOrder
    * partitions, parameter estimated per partition, escape-to-raw when the
    * residuals outgrow k = 14. */
  private def encodeResidual(w: FrameWriter, e: Array[Int], predOrder: Int,
      blockSize: Int, partOrder: Int): Unit = {
    w.u(0, 2) // coding method: 4-bit Rice
    w.u(partOrder, 4)
    val parts = 1 << partOrder
    var p = 0
    var off = 0
    while (p < parts) {
      val cnt = (blockSize >> partOrder) - (if (p == 0) predOrder else 0)
      var sumU = 0L
      var maxU = 0L
      var j = 0
      while (j < cnt) {
        val v = e(off + j)
        val u = ((v << 1) ^ (v >> 31)).toLong & 0xffffffffL
        sumU += u
        if (u > maxU) maxU = u
        j += 1
      }
      var k = 0
      while (k < 30 && (cnt.toLong << (k + 1)) < sumU) k += 1
      if (k <= 14) {
        w.u(k, 4)
        j = 0
        while (j < cnt) {
          val v = e(off + j)
          val uo = ((v << 1) ^ (v >> 31)).toLong & 0xffffffffL
          val q = (uo >> k).toInt
          var z = 0
          while (z < q) { w.bit(0); z += 1 }
          w.bit(1)
          w.u((uo & ((1L << k) - 1)).toInt, k)
          j += 1
        }
      } else {
        // escape: raw signed residuals at fixed width
        var nb = 2
        while (nb < 31 && (maxU >> (nb - 1)) != 0) nb += 1 // zigzag max needs nb bits ⇒ signed fits in nb
        w.u(0xf, 4)
        w.u(nb, 5)
        j = 0
        while (j < cnt) { w.u(e(off + j) & ((1 << nb) - 1), nb); j += 1 }
      }
      off += cnt
      p += 1
    }
  }

  // --------------------------------------------------------- decoder
  final case class Audio(channels: Int, rate: Int, bits: Int,
      pcm: Array[Array[Int]])

  /** Full decode, or null on any structural/CRC/codec break. */
  def decode(b: Array[Byte]): Audio = {
    try decodeOrThrow(b)
    catch { case _: Exception => null }
  }

  private def decodeOrThrow(b: Array[Byte]): Audio = {
    val info = AudioHeaders.parseFlac(b)
    if (info == null) return null
    val channels = info._2
    val rate = info._3
    val bits = info._4
    if (bits != 8 && bits != 16 && bits != 24) return null
    // walk metadata blocks: locate STREAMINFO (exact total-sample field —
    // parseFlac surfaces micros) and the first frame byte
    var i = 4
    var done = false
    var exactTotal = -1L
    while (!done) {
      if (i + 4 > b.length) return null
      val hdr = b(i) & 0xff
      val len = ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
      if (i.toLong + 4 + len > b.length) return null
      if ((hdr & 0x7f) == 0 && len >= 34) {
        val o = i + 4
        exactTotal = ((b(o + 13) & 0xf).toLong << 32) |
          ((((b(o + 14) & 0xff).toLong << 24) | ((b(o + 15) & 0xff) << 16) |
            ((b(o + 16) & 0xff) << 8) | (b(o + 17) & 0xff)) & 0xffffffffL)
      }
      done = (hdr & 0x80) != 0
      i += 4 + len
    }
    val want = exactTotal
    if (want <= 0 || want > 100000000L) return null
    // memory-bomb defense: total-samples is an UNTRUSTED header field — a
    // 50-byte forgery claiming 100M samples × 8 channels would otherwise
    // allocate 3.2 GB before the first frame is read (and the resulting
    // OutOfMemoryError is not an Exception, so it would escape the
    // null-route). Grow the PCM buffers as frames actually decode: memory
    // is then bounded by real payload, and a forged header dies at the
    // first bad sync having allocated ≤ 64 KiB samples per channel.
    val wantI = want.toInt
    var out = Array.fill(channels)(new Array[Int](math.min(wantI, 1 << 16)))
    var got = 0
    while (got < want) {
      // room for one max-size FLAC frame (65535 samples), never past want
      val need = math.min(want, got.toLong + 65536L).toInt
      if (out(0).length < need) {
        val newLen =
          math.min(wantI.toLong, math.max(need.toLong, out(0).length * 2L)).toInt
        out = out.map(a => java.util.Arrays.copyOf(a, newLen))
      }
      val r = new MsbBitReader(b, i)
      val (nGot, nextByte) = decodeFrame(b, r, i, channels, bits, out, got)
      got += nGot
      i = nextByte
    }
    // loop exits only at got == want, and the last ensure-room call sized
    // the arrays to exactly `want` — no trailing-zero tail to trim
    Audio(channels, rate, bits, out)
  }

  private def decodeFrame(b: Array[Byte], r: MsbBitReader, frameStart: Int,
      channels: Int, infoBits: Int, out: Array[Array[Int]], at: Int): (Int, Int) = {
    if (r.u(14) != 0x3ffe) throw new IllegalStateException("bad sync")
    if (r.u1() != 0) throw new IllegalStateException("reserved")
    r.u1() // blocking strategy
    val bsCode = r.u(4)
    val srCode = r.u(4)
    val assign = r.u(4)
    val ssCode = r.u(3)
    if (r.u1() != 0) throw new IllegalStateException("reserved")
    // coded number: UTF-8-like, 1..7 bytes — consume
    val first = r.u(8)
    var extra = 0
    var mask = 0x80
    while ((first & mask) != 0) { extra += 1; mask >>= 1 }
    if (extra == 1 || extra > 7) throw new IllegalStateException("coded number")
    var k = if (extra == 0) 0 else extra - 1
    while (k > 0) {
      if ((r.u(8) & 0xc0) != 0x80) throw new IllegalStateException("coded number")
      k -= 1
    }
    val blockSize = bsCode match {
      case 0 => throw new IllegalStateException("reserved block size")
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => r.u(8) + 1
      case 7 => r.u(16) + 1
      case c => 256 << (c - 8)
    }
    srCode match {
      case 12 => r.u(8)
      case 13 | 14 => r.u(16)
      case 15 => throw new IllegalStateException("invalid rate code")
      case _ => ()
    }
    val bits = ssCode match {
      case 0 => infoBits
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case 7 => 32
      case _ => throw new IllegalStateException("reserved sample size")
    }
    if (bits != infoBits) throw new IllegalStateException("bits mismatch")
    r.alignToByte()
    val hdrCrc = crc8(b, frameStart, r.bytePos)
    if (r.u(8) != hdrCrc) throw new IllegalStateException("header crc")
    val nCh = if (assign < 8) assign + 1
      else if (assign <= 10) 2
      else throw new IllegalStateException("reserved assignment")
    if (nCh != channels) throw new IllegalStateException("channel mismatch")
    if (at + blockSize > out(0).length) throw new IllegalStateException("overrun")
    val sig = new Array[Array[Int]](nCh)
    var c = 0
    while (c < nCh) {
      val bps = bits + (assign match {
        case 0x8 => if (c == 1) 1 else 0
        case 0x9 => if (c == 0) 1 else 0
        case 0xa => if (c == 1) 1 else 0
        case _ => 0
      })
      sig(c) = decodeSubframe(r, blockSize, bps)
      c += 1
    }
    r.alignToByte()
    val crc = crc16(b, frameStart, r.bytePos)
    if (r.u(16) != crc) throw new IllegalStateException("frame crc")
    // undo stereo decorrelation
    var j = 0
    assign match {
      case 0x8 => // left, side
        while (j < blockSize) {
          out(0)(at + j) = sig(0)(j)
          out(1)(at + j) = sig(0)(j) - sig(1)(j)
          j += 1
        }
      case 0x9 => // side, right
        while (j < blockSize) {
          out(0)(at + j) = sig(1)(j) + sig(0)(j)
          out(1)(at + j) = sig(1)(j)
          j += 1
        }
      case 0xa => // mid, side
        while (j < blockSize) {
          val s = sig(1)(j)
          val m = (sig(0)(j) << 1) | (s & 1)
          out(0)(at + j) = (m + s) >> 1
          out(1)(at + j) = (m - s) >> 1
          j += 1
        }
      case _ =>
        var cc = 0
        while (cc < nCh) {
          j = 0
          while (j < blockSize) { out(cc)(at + j) = sig(cc)(j); j += 1 }
          cc += 1
        }
    }
    (blockSize, r.bytePos)
  }

  private def decodeSubframe(r: MsbBitReader, n: Int, bps: Int): Array[Int] = {
    if (r.u1() != 0) throw new IllegalStateException("subframe pad")
    val typ = r.u(6)
    val wasted = if (r.u1() == 1) r.unary(1 << 20) + 1 else 0
    val eff = bps - wasted
    if (eff <= 0 || eff > 25) throw new IllegalStateException("bps")
    val x = new Array[Int](n)
    if (typ == 0) { // CONSTANT
      val v = r.s(eff)
      java.util.Arrays.fill(x, v)
    } else if (typ == 1) { // VERBATIM
      var j = 0
      while (j < n) { x(j) = r.s(eff); j += 1 }
    } else if ((typ & 0x38) == 0x08 && (typ & 7) <= 4) { // FIXED
      val order = typ & 7
      if (order > n) throw new IllegalStateException("order>n")
      var j = 0
      while (j < order) { x(j) = r.s(eff); j += 1 }
      val e = decodeResidual(r, order, n)
      j = order
      while (j < n) {
        val v = e(j - order)
        x(j) = order match {
          case 0 => v
          case 1 => v + x(j - 1)
          case 2 => v + 2 * x(j - 1) - x(j - 2)
          case 3 => v + 3 * x(j - 1) - 3 * x(j - 2) + x(j - 3)
          case 4 => v + 4 * x(j - 1) - 6 * x(j - 2) + 4 * x(j - 3) - x(j - 4)
        }
        j += 1
      }
    } else if ((typ & 0x20) != 0) { // LPC
      val order = (typ & 0x1f) + 1
      if (order > n) throw new IllegalStateException("order>n")
      var j = 0
      while (j < order) { x(j) = r.s(eff); j += 1 }
      val precision = r.u(4) + 1
      if (precision > 15) throw new IllegalStateException("qlp precision")
      val shift = { val v = r.u(5); (v << 27) >> 27 }
      if (shift < 0) throw new IllegalStateException("negative shift")
      val coef = new Array[Int](order)
      j = 0
      while (j < order) { coef(j) = r.s(precision); j += 1 }
      val e = decodeResidual(r, order, n)
      j = order
      while (j < n) {
        var acc = 0L
        var t = 0
        while (t < order) { acc += coef(t).toLong * x(j - 1 - t); t += 1 }
        x(j) = e(j - order) + (acc >> shift).toInt
        j += 1
      }
    } else throw new IllegalStateException("reserved subframe type")
    if (wasted > 0) {
      var j = 0
      while (j < n) { x(j) = x(j) << wasted; j += 1 }
    }
    x
  }

  private def decodeResidual(r: MsbBitReader, predOrder: Int, blockSize: Int)
      : Array[Int] = {
    val method = r.u(2)
    if (method > 1) throw new IllegalStateException("residual method")
    val pBits = if (method == 0) 4 else 5
    val escape = if (method == 0) 0xf else 0x1f
    val partOrder = r.u(4)
    val parts = 1 << partOrder
    if ((blockSize >> partOrder) << partOrder != blockSize)
      throw new IllegalStateException("partition split")
    val e = new Array[Int](blockSize - predOrder)
    var off = 0
    var p = 0
    while (p < parts) {
      val cnt = (blockSize >> partOrder) - (if (p == 0) predOrder else 0)
      if (cnt < 0) throw new IllegalStateException("partition count")
      val k = r.u(pBits)
      if (k == escape) {
        val nb = r.u(5)
        var j = 0
        while (j < cnt) {
          e(off + j) = if (nb == 0) 0 else r.s(nb)
          j += 1
        }
      } else {
        var j = 0
        while (j < cnt) {
          val q = r.unary(1 << 20)
          val low = if (k == 0) 0 else r.u(k)
          val u = (q.toLong << k) | (low.toLong & ((1L << k) - 1))
          e(off + j) = ((u >>> 1) ^ -(u & 1L)).toInt
          j += 1
        }
      }
      off += cnt
      p += 1
    }
    e
  }

  /** Decode to a standard PCM WAV (8-bit unsigned / 16- or 24-bit LE,
    * channels interleaved) so the decoded audio composes with the existing
    * `pcm_stats` / `pcm_frames` chain. Null routes for anything
    * [[decode]] rejects. */
  def decodeToWav(b: Array[Byte]): Array[Byte] = {
    val a = decode(b)
    if (a == null) return null
    val n = a.pcm(0).length
    val bytesPer = a.bits / 8
    val body = new Array[Byte](n * a.channels * bytesPer)
    var j = 0
    var w = 0
    while (j < n) {
      var c = 0
      while (c < a.channels) {
        val v = a.pcm(c)(j)
        a.bits match {
          case 8 => body(w) = (v + 128).toByte; w += 1
          case 16 =>
            body(w) = (v & 0xff).toByte
            body(w + 1) = ((v >> 8) & 0xff).toByte
            w += 2
          case 24 =>
            body(w) = (v & 0xff).toByte
            body(w + 1) = ((v >> 8) & 0xff).toByte
            body(w + 2) = ((v >> 16) & 0xff).toByte
            w += 3
        }
        c += 1
      }
      j += 1
    }
    AudioHeaders.buildWav(a.channels, a.rate, a.bits, body)
  }
}

/** `flac_decode(binary)` → `binary`: the FLAC audio decoded to a PCM WAV
  * container (see [[FlacCodec.decodeToWav]]); null for non-FLAC or any
  * structural/CRC/codec break. */
case class FlacDecode(child: Expression) extends BinaryCodecExpression("flac_decode", BinaryType) {
  override def nullSafeEval(payload: Any): Any =
    FlacCodec.decodeToWav(payload.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): FlacDecode =
    copy(child = newChild)
}

object FlacDecode {
  def flacDecode(media: Column): Column =
    GraftColumnShim.column(FlacDecode(GraftColumnShim.expression(media)))
}
