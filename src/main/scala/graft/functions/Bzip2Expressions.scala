package graft.functions

import scala.util.control.NonFatal

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Library-free bzip2 (the public .bz2 format, as documented in the
  * bzip2 manual and format specifications) — the JDK ships no bzip2
  * codec, yet the largest public text corpora do (Wikipedia dumps are
  * `pages-articles.xml.bz2`; many archive crawls carry `.bz2` members).
  * The pipeline, decode side (all stages from-scratch):
  *
  *   bit stream (MSB-first) → per-block Huffman with 2-6 GROUP tables
  *   switched every 50 symbols via MTF-coded selectors → RLE2 (RUNA/RUNB
  *   bijective-base-2 zero runs) + move-to-front over the block's used
  *   bytes → inverse Burrows-Wheeler transform (counting sort + one
  *   T-vector walk, O(n)) → RLE1 (4-byte run + count) → plain bytes,
  *   each block's CRC-32 (MSB-first 0x04c11db7) checked and the stream's
  *   combined CRC checked at the footer.
  *
  * Anything structurally off — bad magics, the deprecated randomized
  * bit, a CRC mismatch, output beyond the declared 100k×level block
  * size — routes to null; the walk never throws (the dead-letter
  * contract every parser here keeps). The encoder is a valid SUBSET
  * writer for fixtures (single block per ≤100k of RLE1 output, two
  * identical Huffman groups, naive O(n²logn) rotation-sort BWT — fine at
  * fixture scale), so gates can do build-then-parse inversion. */
object Bzip2 {

  // ------------------------------------------------------------- CRC-32
  // bzip2's CRC: MSB-first 0x04c11db7, init/finish inverted
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04c11db7 else c << 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  private final class Crc {
    private var v = 0xffffffff
    def update(b: Byte): Unit =
      v = (v << 8) ^ CrcTable(((v >>> 24) ^ (b & 0xff)) & 0xff)
    def value: Int = ~v
  }

  // --------------------------------------------------------- bit stream
  private final class BitIn(b: Array[Byte]) {
    private var pos = 0L // bit position
    private val end = b.length.toLong * 8
    def align(): Unit = pos = (pos + 7) & ~7L
    def atEnd: Boolean = pos >= end
    def bit(): Int = {
      if (pos >= end) throw Truncated
      val r = (b((pos >> 3).toInt) >> (7 - (pos & 7)).toInt) & 1
      pos += 1
      r
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def bitsLong(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
  }

  private object Truncated extends Exception { override def fillInStackTrace(): Throwable = this }

  private final class BitOut {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var n = 0
    def bit(v: Int): Unit = {
      cur = (cur << 1) | (v & 1)
      n += 1
      if (n == 8) { out.write(cur); cur = 0; n = 0 }
    }
    def bits(v: Int, width: Int): Unit = {
      var i = width - 1
      while (i >= 0) { bit((v >> i) & 1); i -= 1 }
    }
    def bitsLong(v: Long, width: Int): Unit = {
      var i = width - 1
      while (i >= 0) { bit(((v >> i) & 1).toInt); i -= 1 }
    }
    def toBytes: Array[Byte] = {
      while (n != 0) bit(0) // pad the final byte with zeros
      out.toByteArray
    }
  }

  private val BlockMagic = 0x314159265359L
  private val FooterMagic = 0x177245385090L

  // ------------------------------------------------------------- decode

  /** Decompressed bytes, or null on any structural or CRC break.
    *
    * OUTPUT BOUND: decode refuses to inflate past 256 MiB (the
    * zip-bomb guard at the RLE1 sink) and null-routes such input
    * exactly like corruption — deliberate for a PER-ROW column value,
    * where an unbounded inflate is an executor-heap attack. A
    * monolithic single-stream dump above the bound therefore
    * quarantines; real multistream corpora split at `BZh` stream
    * boundaries first ([[Bzip2Extents]]) so no single decode ever
    * exceeds one stream (~1 MB for a 100-page Wikipedia stream). */
  def decode(b: Array[Byte]): Array[Byte] = {
    try decodeImpl(b)
    catch { case Truncated => null; case NonFatal(_) => null }
  }

  /** True iff a byte-aligned bzip2 STREAM starts at `i`: `BZh` +
    * level digit + the first block's 48-bit magic. 10 bytes of
    * signature — strong enough to cut multistream files at, weak
    * enough to scan at wire speed (see [[Bzip2Extents]] on the
    * false-positive budget). */
  def isStreamStart(b: Array[Byte], i: Int): Boolean =
    i >= 0 && i + 10 <= b.length &&
      b(i) == 'B' && b(i + 1) == 'Z' && b(i + 2) == 'h' &&
      b(i + 3) >= '1' && b(i + 3) <= '9' &&
      b(i + 4) == 0x31 && b(i + 5) == 0x41 && b(i + 6) == 0x59 &&
      b(i + 7) == 0x26 && b(i + 8) == 0x53 && b(i + 9) == 0x59

  /** Byte offsets of every stream signature in a (multi-stream) .bz2,
    * or null when the payload does not itself start with one. */
  def streamOffsets(b: Array[Byte]): Array[Long] = {
    if (b == null || !isStreamStart(b, 0)) return null
    val offs = scala.collection.mutable.ArrayBuffer[Long](0L)
    var i = 1
    while (i + 10 <= b.length) {
      if (b(i) == 'B' && isStreamStart(b, i)) { offs += i.toLong; i += 10 }
      else i += 1
    }
    offs.toArray
  }

  private def decodeImpl(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 14) return null
    val in = new BitIn(b) // no copy: the header is just the first 32 bits
    val out = new java.io.ByteArrayOutputStream()
    var streams = 0
    var blocks = 0
    // a .bz2 FILE is a byte-aligned CONCATENATION of streams (pbzip2,
    // `cat a.bz2 b.bz2`, Wikipedia's multistream dumps); stopping at the
    // first footer would pass a silently truncated payload downstream
    while (!in.atEnd) {
      if (in.bits(8) != 'B' || in.bits(8) != 'Z' || in.bits(8) != 'h')
        return null
      val level = in.bits(8) - '0'
      if (level < 1 || level > 9) return null
      val maxBlock = 100000 * level
      var combined = 0
      var footer = false
      while (!footer) {
        val magic = in.bitsLong(48)
        if (magic == FooterMagic) {
          val streamCrc = in.bits(32)
          if (streamCrc != combined) return null
          footer = true
        } else if (magic == BlockMagic) {
          blocks += 1
          if (blocks > (1 << 16)) return null
          combined = decodeBlock(in, maxBlock, out, combined)
        } else return null
      }
      streams += 1
      in.align() // the next stream, if any, starts on a byte boundary
    }
    if (streams == 0) null else out.toByteArray
  }

  /** One block: Huffman groups → MTF/RLE2 → inverse BWT → RLE1 into
    * `out`; returns the updated combined CRC. Throws Truncated (caught
    * by decode) on any structural break. */
  private def decodeBlock(in: BitIn, maxBlock: Int,
      out: java.io.ByteArrayOutputStream, combined0: Int): Int = {
    var combined = combined0
    locally {
      val blockCrc = in.bits(32)
      if (in.bit() != 0) throw Truncated // deprecated randomized blocks
      val origPtr = in.bits(24)
      // used-symbol map: 16 range bits, then a 16-bit map per used range
      val used = new Array[Boolean](256)
      val ranges = in.bits(16)
      var i = 0
      while (i < 16) {
        if (((ranges >> (15 - i)) & 1) != 0) {
          val m = in.bits(16)
          var j = 0
          while (j < 16) {
            if (((m >> (15 - j)) & 1) != 0) used(i * 16 + j) = true
            j += 1
          }
        }
        i += 1
      }
      val inUse = (0 until 256).filter(used).toArray
      val nInUse = inUse.length
      if (nInUse == 0) throw Truncated
      val alpha = nInUse + 2
      val eob = alpha - 1
      val nGroups = in.bits(3)
      if (nGroups < 2 || nGroups > 6) throw Truncated
      val nSelectors = in.bits(15)
      if (nSelectors < 1) throw Truncated
      // selectors arrive MTF-coded over the group list
      val selectors = new Array[Int](nSelectors)
      val gmtf = Array.tabulate(nGroups)(identity)
      i = 0
      while (i < nSelectors) {
        var j = 0
        while (in.bit() == 1) { j += 1; if (j >= nGroups) throw Truncated }
        val g = gmtf(j)
        while (j > 0) { gmtf(j) = gmtf(j - 1); j -= 1 }
        gmtf(0) = g
        selectors(i) = g
        i += 1
      }
      // delta-coded code lengths per group
      val lens = Array.ofDim[Int](nGroups, alpha)
      var g = 0
      while (g < nGroups) {
        var len = in.bits(5)
        var s = 0
        while (s < alpha) {
          var guard = 0
          while (in.bit() == 1) {
            if (in.bit() == 0) len += 1 else len -= 1
            guard += 1
            if (len < 1 || len > 20 || guard > 200) throw Truncated
          }
          lens(g)(s) = len
          s += 1
        }
        g += 1
      }
      // canonical decode tables (the standard limit/base/perm form)
      val limit = Array.ofDim[Int](nGroups, 24)
      val base = Array.ofDim[Int](nGroups, 24)
      val perm = Array.ofDim[Int](nGroups, alpha)
      val minLens = new Array[Int](nGroups)
      g = 0
      while (g < nGroups) {
        var minLen = 32
        var maxLen = 0
        var s = 0
        while (s < alpha) {
          if (lens(g)(s) > maxLen) maxLen = lens(g)(s)
          if (lens(g)(s) < minLen) minLen = lens(g)(s)
          s += 1
        }
        minLens(g) = minLen
        var pp = 0
        var l = minLen
        while (l <= maxLen) {
          s = 0
          while (s < alpha) {
            if (lens(g)(s) == l) { perm(g)(pp) = s; pp += 1 }
            s += 1
          }
          l += 1
        }
        val cnt = new Array[Int](24)
        s = 0
        while (s < alpha) { cnt(lens(g)(s) + 1) += 1; s += 1 }
        var k = 1
        while (k < 24) { cnt(k) += cnt(k - 1); k += 1 }
        var vec = 0
        l = minLen
        while (l <= maxLen) {
          vec += cnt(l + 1) - cnt(l)
          limit(g)(l) = vec - 1
          vec <<= 1
          l += 1
        }
        l = minLen + 1
        while (l <= maxLen) {
          base(g)(l) = ((limit(g)(l - 1) + 1) << 1) - cnt(l)
          l += 1
        }
        base(g)(minLen) = 0 - cnt(minLen)
        g += 1
      }
      def readSym(group: Int): Int = {
        var zn = minLens(group)
        var zvec = in.bits(zn)
        while (zvec > limit(group)(zn)) {
          zn += 1
          if (zn > 20) throw Truncated
          zvec = (zvec << 1) | in.bit()
        }
        val idx = zvec - base(group)(zn)
        if (idx < 0 || idx >= alpha) throw Truncated
        perm(group)(idx)
      }
      // MTF + RLE2 decode into the BWT string
      val bwt = new Array[Byte](maxBlock)
      var bwtLen = 0
      val mtf = inUse.clone()
      var groupPos = 0
      var groupIdx = -1
      def nextGroup(): Int = {
        if (groupPos == 0) {
          groupIdx += 1
          if (groupIdx >= nSelectors) throw Truncated
          groupPos = 50
        }
        groupPos -= 1
        selectors(groupIdx)
      }
      var run = 0L
      var runBit = 0
      var done = false
      while (!done) {
        val sym = readSym(nextGroup())
        if (sym <= 1) {
          // RUNA=1, RUNB=2 in bijective base 2
          run += (sym + 1).toLong << runBit
          runBit += 1
          if (run > maxBlock || runBit > 24) throw Truncated
        } else {
          if (run > 0) {
            if (bwtLen + run > maxBlock) throw Truncated
            val c = mtf(0)
            var r = 0L
            while (r < run) { bwt(bwtLen) = c.toByte; bwtLen += 1; r += 1 }
            run = 0; runBit = 0
          }
          if (sym == eob) done = true
          else {
            val j0 = sym - 1
            val c = mtf(j0)
            var j = j0
            while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
            mtf(0) = c
            if (bwtLen >= maxBlock) throw Truncated
            bwt(bwtLen) = c.toByte
            bwtLen += 1
          }
        }
      }
      if (origPtr >= bwtLen) throw Truncated
      // inverse BWT: counting sort to build the T vector, then one walk
      val counts = new Array[Int](256)
      i = 0
      while (i < bwtLen) { counts(bwt(i) & 0xff) += 1; i += 1 }
      val starts = new Array[Int](256)
      var acc = 0
      i = 0
      while (i < 256) { starts(i) = acc; acc += counts(i); i += 1 }
      val tvec = new Array[Int](bwtLen)
      val fill = starts.clone()
      i = 0
      while (i < bwtLen) {
        val c = bwt(i) & 0xff
        tvec(fill(c)) = i
        fill(c) += 1
        i += 1
      }
      // walk + RLE1 decode + block CRC over the PLAIN bytes
      val crc = new Crc()
      var p = tvec(origPtr)
      var emitted = 0
      var runLen = 0
      var prev = -1
      while (emitted < bwtLen) {
        val c = bwt(p) & 0xff
        p = tvec(p)
        emitted += 1
        if (runLen == 4) {
          // the byte after a 4-run is a COUNT of extra repeats
          var r = 0
          while (r < c) { out.write(prev); crc.update(prev.toByte); r += 1 }
          runLen = 0
          prev = -1
        } else {
          if (c == prev) runLen += 1 else { runLen = 1; prev = c }
          out.write(c)
          crc.update(c.toByte)
          if (out.size() > (1 << 28)) throw Truncated // bound hostile streams
        }
      }
      if (crc.value != blockCrc) throw Truncated
      combined = ((combined << 1) | (combined >>> 31)) ^ blockCrc
    }
    combined
  }

  // ------------------------------------------------------------- encode

  /** Subset writer for fixtures: level 1, one block per ≤100k of RLE1
    * output, two identical Huffman groups, naive rotation-sort BWT. The
    * output is spec-valid bzip2 any reader opens. */
  def encode(data: Array[Byte]): Array[Byte] = {
    val out = new BitOut()
    out.bits('B', 8); out.bits('Z', 8); out.bits('h', 8); out.bits('1', 8)
    var combined = 0
    var off = 0
    // empty input is a legal zero-block stream (header + footer with
    // combined CRC 0 — what the real bzip2 emits for empty files)
    while (off < data.length) {
      // RLE1-encode greedily until the block is full (or input ends)
      val rle = new java.io.ByteArrayOutputStream()
      val crc = new Crc()
      while (off < data.length && rle.size() < 99000) {
        val c = data(off)
        var run = 1
        while (off + run < data.length && data(off + run) == c && run < 255 + 4)
          run += 1
        val take = run
        var r = 0
        while (r < math.min(take, 4)) { rle.write(c); r += 1 }
        if (take >= 4) rle.write(take - 4)
        var k = 0
        while (k < take) { crc.update(c); k += 1 }
        off += take
      }
      val block = rle.toByteArray
      val blockCrc = crc.value
      combined = ((combined << 1) | (combined >>> 31)) ^ blockCrc
      writeBlock(out, block, blockCrc)
    }
    out.bitsLong(FooterMagic, 48)
    out.bits(combined, 32)
    out.toBytes
  }

  private def writeBlock(out: BitOut, block: Array[Byte], blockCrc: Int): Unit = {
    val n = block.length
    // BWT via rotation sort (naive; fixtures are small)
    val idx = Array.tabulate(n)(identity)
    val sorted = idx.sortWith { (a, bI) =>
      var k = 0
      var r = 0
      while (r == 0 && k < n) {
        val ca = block((a + k) % n) & 0xff
        val cb = block((bI + k) % n) & 0xff
        r = Integer.compare(ca, cb)
        k += 1
      }
      if (r == 0) a < bI else r < 0
    }
    var origPtr = 0
    val bwt = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (sorted(i) == 0) origPtr = i
      bwt(i) = block((sorted(i) + n - 1) % n)
      i += 1
    }
    // used bytes + MTF + RLE2
    val used = new Array[Boolean](256)
    i = 0
    while (i < n) { used(bwt(i) & 0xff) = true; i += 1 }
    val inUse = (0 until 256).filter(used).toArray
    val alpha = inUse.length + 2
    val eob = alpha - 1
    val mtf = inUse.clone()
    val syms = new scala.collection.mutable.ArrayBuffer[Int](n + 8)
    var zeroRun = 0L
    def flushRun(): Unit = {
      var r = zeroRun
      while (r > 0) {
        val d = if (r % 2 == 1) 1 else 2
        syms += (d - 1) // RUNA=0, RUNB=1
        r = (r - d) / 2
      }
      zeroRun = 0
    }
    i = 0
    while (i < n) {
      val c = bwt(i) & 0xff
      var j = 0
      while (mtf(j) != c) j += 1
      if (j == 0) zeroRun += 1
      else {
        flushRun()
        syms += (j + 1)
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = c
      }
      i += 1
    }
    flushRun()
    syms += eob
    // Huffman lengths over the symbol frequencies (depth-capped at 20)
    val freq = new Array[Long](alpha)
    syms.foreach(s => freq(s) += 1)
    val lens = huffLens(freq, 20)
    // block header
    out.bitsLong(BlockMagic, 48)
    out.bits(blockCrc, 32)
    out.bit(0) // not randomized
    out.bits(origPtr, 24)
    var ranges = 0
    i = 0
    while (i < 256) { if (used(i)) ranges |= 1 << (15 - i / 16); i += 1 }
    out.bits(ranges, 16)
    var r16 = 0
    while (r16 < 16) {
      if (((ranges >> (15 - r16)) & 1) != 0) {
        var m = 0
        var j = 0
        while (j < 16) {
          if (used(r16 * 16 + j)) m |= 1 << (15 - j)
          j += 1
        }
        out.bits(m, 16)
      }
      r16 += 1
    }
    out.bits(2, 3) // two identical groups (the spec minimum)
    val nSelectors = (syms.length + 49) / 50
    out.bits(nSelectors, 15)
    i = 0
    while (i < nSelectors) { out.bit(0); i += 1 } // all group 0
    var g = 0
    while (g < 2) {
      var cur = lens(0)
      out.bits(cur, 5)
      var s = 0
      while (s < alpha) {
        while (cur < lens(s)) { out.bit(1); out.bit(0); cur += 1 }
        while (cur > lens(s)) { out.bit(1); out.bit(1); cur -= 1 }
        out.bit(0)
        s += 1
      }
      g += 1
    }
    // canonical codes from lengths
    val (codes, _) = canonical(lens)
    syms.foreach(s => out.bits(codes(s), lens(s)))
  }

  /** Depth-capped Huffman code lengths (two-queue merge; frequencies
    * halved and retried if the cap is exceeded — the standard trick). */
  private def huffLens(freq0: Array[Long], cap: Int): Array[Int] = {
    var freq = freq0.map(f => math.max(f, 1L))
    while (true) {
      case class Node(w: Long, depth: Int, syms: List[Int])
      val pq = scala.collection.mutable.PriorityQueue.empty[Node](
        Ordering.by[Node, (Long, Int)](nd => (nd.w, nd.depth)).reverse)
      for (s <- freq.indices) pq.enqueue(Node(freq(s), 0, List(s)))
      val lens = new Array[Int](freq.length)
      if (freq.length == 1) { lens(0) = 1; return lens }
      while (pq.size > 1) {
        val a = pq.dequeue(); val bN = pq.dequeue()
        (a.syms ++ bN.syms).foreach(s => lens(s) += 1)
        pq.enqueue(Node(a.w + bN.w, math.max(a.depth, bN.depth) + 1,
          a.syms ++ bN.syms))
      }
      if (lens.max <= cap) return lens
      freq = freq.map(f => math.max(f / 2, 1L))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Canonical codes in bzip2's order (shorter lengths first, symbol
    * order within a length — matching the decoder's perm walk). */
  private def canonical(lens: Array[Int]): (Array[Int], Int) = {
    val maxLen = lens.max
    val codes = new Array[Int](lens.length)
    var code = 0
    var l = lens.min
    while (l <= maxLen) {
      for (s <- lens.indices if lens(s) == l) { codes(s) = code; code += 1 }
      code <<= 1
      l += 1
    }
    (codes, maxLen)
  }
}

/** `bunzip_bytes(binary)` → decompressed bytes; null when the payload is
  * not bzip2 or any block fails structurally / on CRC. */
case class BunzipBytes(child: Expression)
    extends BinaryCodecExpression("bunzip_bytes", BinaryType) {
  override def nullSafeEval(payload: Any): Any =
    Bzip2.decode(payload.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): BunzipBytes =
    copy(child = newChild)
}

object BunzipBytes {
  def bunzipBytes(media: Column): Column =
    GraftColumnShim.column(BunzipBytes(GraftColumnShim.expression(media)))
}

/** `bz2_extents(binary)` → `array<struct<off bigint, len bigint>>` —
  * the byte extents of the bzip2 STREAMS inside a (possibly
  * multi-stream) `.bz2`, found by scanning for the byte-aligned
  * 10-byte stream-start signature `BZh[1-9]` + the first block's
  * magic `0x314159265359`. This is the split layer that makes
  * monolithic-looking dumps parallel: Wikipedia publishes the
  * MULTISTREAM `pages-articles` form precisely so readers can cut at
  * stream boundaries, and every extent this emits is independently
  * decodable by [[Bzip2.decode]] — N streams become N tasks, and no
  * decoded value ever exceeds ONE stream's output (so the 256 MiB
  * inflate bound applies per stream, not per file).
  *
  * Null when the payload does not START with a stream signature (not
  * a bzip2 file). A 10-byte aligned signature appearing by chance
  * inside compressed payload would mis-split (both halves then fail
  * CRC and quarantine, never yielding wrong bytes); at ~2^-74 per
  * aligned position that is ~4e-11 expected false cuts across a
  * 20 GB dump — documented, not defended. */
case class Bzip2Extents(child: Expression)
    extends BinaryCodecExpression("bz2_extents", Bzip2Extents.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val offs = Bzip2.streamOffsets(payload.asInstanceOf[Array[Byte]])
    if (offs == null) null
    else {
      val n = payload.asInstanceOf[Array[Byte]].length.toLong
      new GenericArrayData(offs.indices.map { i =>
        val end = if (i + 1 < offs.length) offs(i + 1) else n
        InternalRow(offs(i), end - offs(i)): Any
      }.toArray)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Bzip2Extents =
    copy(child = newChild)
}

object Bzip2Extents {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("off", LongType),
    StructField("len", LongType))), containsNull = false)

  def bz2Extents(media: Column): Column =
    GraftColumnShim.column(Bzip2Extents(GraftColumnShim.expression(media)))
}
