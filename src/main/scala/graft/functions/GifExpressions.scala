package graft.functions

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** REAL GIF body decode — the LZW entropy coder implemented directly (it
  * predates every codec library; the algorithm is public since Welch 1984
  * and the GIF89a spec), so GIF joins BMP and PNG on the fully-decoded
  * side of the multimodal stub. Scope: first frame, non-interlaced, global
  * or local color table; anything else degrades to null (route, don't
  * crash — the dead-letter posture of the other parsers).
  */
object GifCodec {

  private def u(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u(b, i) | (u(b, i + 1) << 8)

  private def isGif(b: Array[Byte]): Boolean =
    b != null && b.length >= 14 && u(b, 0) == 'G' && u(b, 1) == 'I' &&
      u(b, 2) == 'F' && u(b, 3) == '8' && (u(b, 4) == '7' || u(b, 4) == '9') &&
      u(b, 5) == 'a'

  // ------------------------------------------------------------------ LZW

  /** GIF-variant LZW decompress: variable code width (min+1 … 12, LSB-first
    * bit packing), CLEAR resets, EOI stops, KwKwK handled. Returns exactly
    * `nPixels` indices or null (corrupt stream, early starvation, bad
    * code). */
  def lzwDecompress(data: Array[Byte], minCodeSize: Int, nPixels: Int): Array[Int] = {
    if (minCodeSize < 2 || minCodeSize > 8 || nPixels <= 0) return null
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    // dictionary as (prefix code, appended index) pairs; singles implicit
    val prefix = new Array[Int](4096)
    val append = new Array[Int](4096)
    var next = eoi + 1
    var codeSize = minCodeSize + 1
    val out = new Array[Int](nPixels)
    var outN = 0
    var prev = -1
    var bitPos = 0L
    val totalBits = data.length.toLong * 8
    def emit(code: Int): Boolean = { // expand `code` into out; false on overflow
      // walk the chain into a small stack (max chain length = 4096)
      var n = 0
      val stack = new Array[Int](4096)
      var c = code
      while (c >= clear) { // composite entry
        if (n >= 4096) return false
        stack(n) = append(c); n += 1
        c = prefix(c)
      }
      if (outN + n + 1 > nPixels) return false
      out(outN) = c; outN += 1
      var k = n - 1
      while (k >= 0) { out(outN) = stack(k); outN += 1; k -= 1 }
      true
    }
    def firstOf(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    while (outN < nPixels) {
      if (bitPos + codeSize > totalBits) return null // starved before EOI
      val byteI = (bitPos >> 3).toInt
      val bitO = (bitPos & 7).toInt
      var v = u(data, byteI) >> bitO
      var got = 8 - bitO
      while (got < codeSize) {
        if (byteI + (got + bitO) / 8 >= data.length) return null
        v |= u(data, (bitPos >> 3).toInt + ((bitO + got) >> 3)) << got
        got += 8
      }
      val code = v & ((1 << codeSize) - 1)
      bitPos += codeSize
      if (code == clear) {
        next = eoi + 1; codeSize = minCodeSize + 1; prev = -1
      } else if (code == eoi) {
        return if (outN == nPixels) out else null
      } else if (prev == -1) {
        if (code >= clear) return null // first code after clear must be literal
        if (!emit(code)) return null
        prev = code
      } else if (code == next) {
        // KwKwK: the entry being defined right now
        if (next > 4095) return null
        prefix(next) = prev; append(next) = firstOf(prev)
        next += 1
        if (!emit(code)) return null
        if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        prev = code
      } else if (code < next) {
        if (next <= 4095) {
          prefix(next) = prev; append(next) = firstOf(code); next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        if (!emit(code)) return null
        prev = code
      } else return null // beyond the dictionary frontier
    }
    out
  }

  /** Real greedy LZW compress (longest dictionary match), GIF bit packing.
    * Resets with CLEAR at dictionary overflow. The emitted code WIDTH
    * mirrors the decoder's schedule exactly: the encoder tracks `dNext` —
    * the size the DECODER's dictionary has when it reads each code (the
    * decoder defines entries one code behind the encoder) — and grows the
    * width precisely when the decoder will (`dNext == 2^codeSize` before a
    * read). Round-trip specs pin the alignment, including the final-code /
    * EOI width boundary and KwKwK-inducing inputs. */
  def lzwCompress(indices: Array[Int], minCodeSize: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    // fail fast on out-of-alphabet input — a negative or too-large index
    // would silently corrupt the code stream
    var v = 0
    while (v < indices.length) {
      require(indices(v) >= 0 && indices(v) < clear,
        s"index ${indices(v)} outside [0, $clear)")
      v += 1
    }
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nAcc = 0
    var codeSize = minCodeSize + 1
    var dNext = eoi + 1 // decoder's dictionary size at its NEXT read
    var firstData = true // decoder adds nothing on the first data code after clear
    def write(code: Int): Unit = {
      if (dNext == (1 << codeSize) && codeSize < 12) codeSize += 1
      acc |= code.toLong << nAcc; nAcc += codeSize
      while (nAcc >= 8) { bits.write((acc & 0xff).toInt); acc >>= 8; nAcc -= 8 }
    }
    def writeData(code: Int): Unit = {
      write(code)
      if (firstData) firstData = false
      else if (dNext <= 4095) dNext += 1
    }
    // (prefixCode << 12 | index) -> code; boxed types so a miss is null,
    // not a silently-unboxed 0
    var dict = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
    var next = eoi + 1
    write(clear)
    var cur = -1
    var i = 0
    while (i < indices.length) {
      val k = indices(i)
      if (cur == -1) cur = k
      else {
        val key = java.lang.Long.valueOf((cur.toLong << 12) | k)
        val hit = dict.get(key)
        if (hit != null) cur = hit.intValue()
        else {
          writeData(cur)
          if (next <= 4095) { dict.put(key, next); next += 1 }
          else {
            write(clear)
            dict = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
            next = eoi + 1; codeSize = minCodeSize + 1
            dNext = eoi + 1; firstData = true
          }
          cur = k
        }
      }
      i += 1
    }
    if (cur != -1) writeData(cur)
    write(eoi)
    if (nAcc > 0) bits.write((acc & 0xff).toInt)
    bits.toByteArray
  }

  // ------------------------------------------------------ container layer

  /** A complete GIF89a: screen descriptor + global color table (padded to a
    * power of two) + one non-interlaced full-frame image + real LZW data in
    * sub-blocks + trailer. Any stock viewer opens it. */
  def buildGif(w: Int, h: Int, palette: Array[(Int, Int, Int)],
      indices: Array[Int]): Array[Byte] = {
    require(w > 0 && h > 0 && indices.length == w * h)
    require(palette.length >= 1 && palette.length <= 256)
    var bitsPerPx = 1
    while ((1 << bitsPerPx) < palette.length) bitsPerPx += 1
    val minCode = math.max(2, bitsPerPx)
    val gctSize = 1 << bitsPerPx
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes, 0, 6)
    out.write(w & 0xff); out.write(w >> 8)
    out.write(h & 0xff); out.write(h >> 8)
    out.write(0x80 | ((bitsPerPx - 1) << 4) | (bitsPerPx - 1)) // GCT present
    out.write(0); out.write(0) // bg, aspect
    var i = 0
    while (i < gctSize) {
      val (r, g, b) = if (i < palette.length) palette(i) else (0, 0, 0)
      out.write(r & 0xff); out.write(g & 0xff); out.write(b & 0xff)
      i += 1
    }
    out.write(0x2c) // image descriptor
    out.write(0); out.write(0); out.write(0); out.write(0) // left, top
    out.write(w & 0xff); out.write(w >> 8)
    out.write(h & 0xff); out.write(h >> 8)
    out.write(0) // no LCT, not interlaced
    out.write(minCode)
    val lzw = lzwCompress(indices, minCode)
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n); out.write(lzw, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** A variant of [[buildGif]] carrying the palette as a LOCAL color table
    * on the image descriptor (no global table) — the per-frame-palette
    * layout of multi-frame GIFs. */
  def buildGifLocalPalette(w: Int, h: Int, palette: Array[(Int, Int, Int)],
      indices: Array[Int]): Array[Byte] = {
    require(w > 0 && h > 0 && indices.length == w * h)
    require(palette.length >= 1 && palette.length <= 256)
    var bitsPerPx = 1
    while ((1 << bitsPerPx) < palette.length) bitsPerPx += 1
    val minCode = math.max(2, bitsPerPx)
    val lctSize = 1 << bitsPerPx
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes, 0, 6)
    out.write(w & 0xff); out.write(w >> 8)
    out.write(h & 0xff); out.write(h >> 8)
    out.write(0); out.write(0); out.write(0) // no GCT, bg, aspect
    out.write(0x2c)
    out.write(0); out.write(0); out.write(0); out.write(0)
    out.write(w & 0xff); out.write(w >> 8)
    out.write(h & 0xff); out.write(h >> 8)
    out.write(0x80 | (bitsPerPx - 1)) // LCT present, not interlaced
    var i = 0
    while (i < lctSize) {
      val (r, g, b) = if (i < palette.length) palette(i) else (0, 0, 0)
      out.write(r & 0xff); out.write(g & 0xff); out.write(b & 0xff)
      i += 1
    }
    out.write(minCode)
    val lzw = lzwCompress(indices, minCode)
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n); out.write(lzw, off, n)
      off += n
    }
    out.write(0)
    out.write(0x3b)
    out.toByteArray
  }

  /** A variant of [[buildGif]] with the INTERLACE flag set and rows
    * emitted in GIF's 4-pass order (8-strided from 0, then 4, then
    * 2-strided from 2, then odd rows) — what an interlaced encoder
    * writes. */
  def buildGifInterlaced(w: Int, h: Int, palette: Array[(Int, Int, Int)],
      indices: Array[Int]): Array[Byte] = {
    require(indices.length == w * h)
    val passRows =
      (0 until h by 8) ++ (4 until h by 8) ++ (2 until h by 4) ++ (1 until h by 2)
    val reordered = passRows.toArray.flatMap(y =>
      indices.slice(y * w, y * w + w))
    val plain = buildGif(w, h, palette, reordered)
    // set the interlace bit on the image descriptor (offset: screen 13 +
    // GCT + 9 bytes into the descriptor)
    var bitsPerPx = 1
    while ((1 << bitsPerPx) < palette.length) bitsPerPx += 1
    val at = 13 + 3 * (1 << bitsPerPx) + 9
    plain(at) = (plain(at) | 0x40).toByte
    plain
  }

  /** Decode the FIRST image of a GIF to the shared pixel-stats contract:
    * (width, height, n_px, sum_r, sum_g, sum_b, luma_sum, first_luma) —
    * width/height are the frame's (interlaced or not — the stats are
    * row-order independent and pass 1 starts at row 0). Null for missing
    * color tables, corrupt LZW, truncated blocks, hostile dims. */
  def parseGifPixels(b: Array[Byte]): (Int, Int, Long, Long, Long, Long, Long, Long) = {
    if (!isGif(b)) return null
    val flags = u(b, 10)
    val gctSize = if ((flags & 0x80) != 0) 1 << ((flags & 7) + 1) else 0
    var i = 13 + 3 * gctSize
    if (i > b.length) return null
    while (i < b.length) {
      u(b, i) match {
        case 0x21 => // extension: label + sub-blocks
          i += 2
          while (i < b.length && u(b, i) != 0) i += 1 + u(b, i)
          i += 1
        case 0x2c =>
          if (i + 10 > b.length) return null
          val w = le16(b, i + 5); val h = le16(b, i + 7)
          val iflags = u(b, i + 9)
          // interlaced frames (iflags bit 6) need no special handling HERE:
          // the stats contract is row-order independent, and GIF's 4-pass
          // interlace starts with image row 0 — so the stream's first pixel
          // is (0,0) either way and first_luma stays correct
          if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) return null
          val lctSize = if ((iflags & 0x80) != 0) 1 << ((iflags & 7) + 1) else 0
          var j = i + 10 + 3 * lctSize
          val palOff = if (lctSize > 0) i + 10 else if (gctSize > 0) 13 else return null
          val palN = if (lctSize > 0) lctSize else gctSize
          if (j >= b.length) return null
          val minCode = u(b, j); j += 1
          // concatenate data sub-blocks
          val lzw = new java.io.ByteArrayOutputStream()
          var ok = true
          while (ok && j < b.length && u(b, j) != 0) {
            val n = u(b, j)
            if (j + 1 + n > b.length) ok = false
            else { lzw.write(b, j + 1, n); j += 1 + n }
          }
          if (!ok) return null
          val idx = lzwDecompress(lzw.toByteArray, minCode, w * h)
          if (idx == null) return null
          var sumR = 0L; var sumG = 0L; var sumB = 0L; var lumaSum = 0L
          var firstLuma = 0L
          var k = 0
          while (k < idx.length) {
            val p = idx(k)
            if (p >= palN) return null // index outside the color table
            val r = u(b, palOff + 3 * p)
            val g = u(b, palOff + 3 * p + 1)
            val bl = u(b, palOff + 3 * p + 2)
            sumR += r; sumG += g; sumB += bl
            val luma = (77 * r + 150 * g + 29 * bl) >> 8
            lumaSum += luma
            if (k == 0) firstLuma = luma
            k += 1
          }
          return (w, h, w.toLong * h, sumR, sumG, sumB, lumaSum, firstLuma)
        case 0x3b => return null // trailer before any image
        case _ => return null // desynced block chain
      }
    }
    null
  }
}

/** `gif_pixels(binary)` → the shared pixel-stats struct, for non-interlaced
  * GIFs — REAL LZW entropy decode in pure integer code (Welch 1984; no
  * library), inside whole-stage codegen. Null for interlaced/corrupt/
  * truncated payloads. */
case class GifPixels(child: Expression)
    extends BinaryCodecExpression("gif_pixels", BmpPixels.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val p = GifCodec.parseGifPixels(payload.asInstanceOf[Array[Byte]])
    if (p == null) null
    else InternalRow(p._1, p._2, p._3, p._4, p._5, p._6, p._7, p._8)
  }

  override protected def withNewChildInternal(newChild: Expression): GifPixels =
    copy(child = newChild)
}

object GifPixels {
  def gifPixels(media: Column): Column =
    GraftColumnShim.column(GifPixels(GraftColumnShim.expression(media)))
}
