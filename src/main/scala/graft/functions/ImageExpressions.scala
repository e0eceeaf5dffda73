package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free image container header parsing — the honest in-container
  * slice of the multimodal decode pillar. Formats are identified and their
  * dimensions read straight from the public container layouts (PNG IHDR,
  * JPEG SOF segment scan, GIF logical screen descriptor, BMP DIB header);
  * no codec library involved, so this part of [[graft.multimodal.Multimodal]]
  * is REAL, not stubbed — only pixel decode stays behind the stub.
  */
object ImageHeaders {
  /** (format, width, height), or null when the payload is not a recognized
    * image container. Pure function of the leading bytes. */
  def parse(b: Array[Byte]): (String, Int, Int) = {
    if (b == null) null
    else if (isPng(b)) ("png", be32(b, 16), be32(b, 20))
    else if (isGif(b)) ("gif", le16(b, 6), le16(b, 8))
    // biHeight < 0 means a top-down DIB (row order flipped, same pixel
    // count) — surface the magnitude, matching the png/jpeg convention
    else if (isBmp(b)) ("bmp", le32(b, 18), math.abs(le32(b, 22)))
    else if (isJpeg(b)) parseJpeg(b)
    else if (isWebp(b)) parseWebp(b)
    else if (isTiff(b)) parseTiff(b)
    else if (isAvif(b)) parseAvif(b)
    else null
  }

  private def isAvif(b: Array[Byte]): Boolean =
    b.length >= 16 && tag(b, 4) == "ftyp" &&
      (tag(b, 8) == "avif" || tag(b, 8) == "avis")

  /** AVIF dimensions (ISO 23008-12 HEIF layout over ISO-BMFF): the `meta`
    * FULL box's iprp → ipco → ispe property carries the spatial extents —
    * no OBU decode needed; `av1C` sits beside ispe and stays opaque here
    * ([[Av1]] owns the config syntax). Null when any box on the chain is
    * missing or truncated. */
  private def parseAvif(b: Array[Byte]): (String, Int, Int) = {
    // find a child box by type within [from, to); returns payload start
    // (after size+type) and end, or null
    def child(from: Int, to: Int, typ: String): (Int, Int) = {
      var i = from
      var guard = 0
      while (i + 8 <= to && guard < 64) {
        val size = be32(b, i)
        if (size < 8 || i.toLong + size > to) return null
        if (tag(b, i + 4) == typ) return (i + 8, i + size)
        i += size
        guard += 1
      }
      null
    }
    if (b.length < 16) return null
    val meta = child(0, b.length, "meta")
    if (meta == null || meta._1 + 4 > meta._2) return null
    val iprp = child(meta._1 + 4, meta._2, "iprp") // +4: FullBox ver/flags
    if (iprp == null) return null
    val ipco = child(iprp._1, iprp._2, "ipco")
    if (ipco == null) return null
    val ispe = child(ipco._1, ipco._2, "ispe")
    if (ispe == null || ispe._1 + 12 > ispe._2) return null
    val w = be32(b, ispe._1 + 4) // after FullBox version/flags
    val h = be32(b, ispe._1 + 8)
    if (w <= 0 || h <= 0) return null
    ("avif", w, h)
  }

  /** Minimal AVIF: ftyp(avif) + meta{hdlr(pict), iprp{ipco{ispe, av1C}}}
    * + mdat(body). The av1C record comes from [[Av1.buildAv1C]] so the
    * config chain is spec-true even though [[parseAvif]] only reads ispe. */
  def buildAvif(w: Int, h: Int, av1c: Array[Byte],
      body: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32b(payload.length + 8) ++ typ.getBytes ++ payload
    val ftyp = box("ftyp", "avif".getBytes ++ be32b(0) ++ "mif1".getBytes)
    val hdlr = box("hdlr", be32b(0) ++ be32b(0) ++ "pict".getBytes ++
      new Array[Byte](12 + 1))
    val ispe = box("ispe", be32b(0) ++ be32b(w) ++ be32b(h))
    val av1cBox = box("av1C", av1c)
    val ipco = box("ipco", ispe ++ av1cBox)
    val iprp = box("iprp", ipco)
    val meta = box("meta", be32b(0) ++ hdlr ++ iprp)
    ftyp ++ meta ++ box("mdat", body)
  }

  private def u(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u(b, i) << 8) | u(b, i + 1)
  private def be32(b: Array[Byte], i: Int): Int =
    (u(b, i) << 24) | (u(b, i + 1) << 16) | (u(b, i + 2) << 8) | u(b, i + 3)
  private def le16(b: Array[Byte], i: Int): Int = u(b, i) | (u(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    u(b, i) | (u(b, i + 1) << 8) | (u(b, i + 2) << 16) | (u(b, i + 3) << 24)

  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 24 && u(b, 0) == 0x89 && u(b, 1) == 'P' && u(b, 2) == 'N' &&
      u(b, 3) == 'G' && u(b, 4) == 0x0d && u(b, 5) == 0x0a && u(b, 6) == 0x1a &&
      u(b, 7) == 0x0a && u(b, 12) == 'I' && u(b, 13) == 'H' && u(b, 14) == 'D' &&
      u(b, 15) == 'R'

  private def isGif(b: Array[Byte]): Boolean =
    b.length >= 10 && u(b, 0) == 'G' && u(b, 1) == 'I' && u(b, 2) == 'F' &&
      u(b, 3) == '8' && (u(b, 4) == '7' || u(b, 4) == '9') && u(b, 5) == 'a'

  private def isBmp(b: Array[Byte]): Boolean =
    // require the 40-byte BITMAPINFOHEADER so width/height offsets are valid
    b.length >= 26 && u(b, 0) == 'B' && u(b, 1) == 'M' && le32(b, 14) >= 40 &&
      b.length >= 26 + 8

  private def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 4 && u(b, 0) == 0xff && u(b, 1) == 0xd8

  private def isWebp(b: Array[Byte]): Boolean =
    b.length >= 25 && u(b, 0) == 'R' && u(b, 1) == 'I' && u(b, 2) == 'F' &&
      u(b, 3) == 'F' && u(b, 8) == 'W' && u(b, 9) == 'E' && u(b, 10) == 'B' &&
      u(b, 11) == 'P'

  private def isTiff(b: Array[Byte]): Boolean =
    b.length >= 8 &&
      ((u(b, 0) == 'I' && u(b, 1) == 'I' && u(b, 2) == 42 && u(b, 3) == 0) ||
       (u(b, 0) == 'M' && u(b, 1) == 'M' && u(b, 2) == 0 && u(b, 3) == 42))

  private def le24(b: Array[Byte], i: Int): Int =
    u(b, i) | (u(b, i + 1) << 8) | (u(b, i + 2) << 16)

  /** WebP dims from the first chunk (the public container spec): VP8X's
    * 24-bit canvas fields, lossy VP8's frame header (sync 9D 01 2A, 14-bit
    * dims), or VP8L's packed 14-bit fields after the 0x2F signature. */
  private def parseWebp(b: Array[Byte]): (String, Int, Int) = {
    val cc = tag(b, 12)
    cc match {
      case "VP8X" if b.length >= 30 =>
        ("webp", le24(b, 24) + 1, le24(b, 27) + 1)
      case "VP8 " if b.length >= 30 &&
          u(b, 23) == 0x9d && u(b, 24) == 0x01 && u(b, 25) == 0x2a =>
        ("webp", le16(b, 26) & 0x3fff, le16(b, 28) & 0x3fff)
      case "VP8L" if b.length >= 25 && u(b, 20) == 0x2f =>
        val b1 = u(b, 21); val b2 = u(b, 22); val b3 = u(b, 23); val b4 = u(b, 24)
        val w = 1 + (((b2 & 0x3f) << 8) | b1)
        val h = 1 + (((b4 & 0xf) << 10) | (b3 << 2) | (b2 >> 6))
        ("webp", w, h)
      case _ => null
    }
  }

  private def tag(b: Array[Byte], i: Int): String =
    if (i + 4 > b.length) ""
    else new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** TIFF dims from the first IFD (TIFF 6.0, public): endianness from the
    * II/MM magic, walk the 12-byte entries for ImageWidth(256)/
    * ImageLength(257), SHORT or LONG values left-justified inline. */
  private def parseTiff(b: Array[Byte]): (String, Int, Int) = {
    val le = u(b, 0) == 'I'
    @inline def r16(i: Int): Int = if (le) le16(b, i) else (u(b, i) << 8) | u(b, i + 1)
    @inline def r32(i: Int): Long =
      (if (le) le32(b, i) else be32(b, i)).toLong & 0xffffffffL
    val ifd = r32(4)
    if (ifd < 8 || ifd + 2 > b.length) return null
    val n = r16(ifd.toInt)
    if (n <= 0 || n > 4096 || ifd + 2 + 12L * n > b.length) return null
    var w = -1L; var h = -1L
    var e = 0
    while (e < n) {
      val o = (ifd + 2 + 12 * e).toInt
      val tagId = r16(o)
      val typ = r16(o + 2)
      // SHORT(3)/LONG(4) values are left-justified in the 4-byte field
      val v: Long =
        if (typ == 3) r16(o + 8).toLong
        else if (typ == 4) r32(o + 8)
        else -1L
      if (tagId == 256) w = v
      if (tagId == 257) h = v
      e += 1
    }
    if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20)) null
    else ("tiff", w.toInt, h.toInt)
  }

  /** Minimal WebP containers for each coding variant — deterministic
    * inverses of [[parseWebp]] (dims only; bodies opaque). */
  def buildWebpVp8x(w: Int, h: Int): Array[Byte] = {
    require(w >= 1 && h >= 1 && w <= (1 << 24) && h <= (1 << 24))
    def le24b(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte)
    "RIFF".getBytes ++ le32b(22) ++ "WEBP".getBytes ++
      "VP8X".getBytes ++ le32b(10) ++ Array[Byte](0, 0, 0, 0) ++
      le24b(w - 1) ++ le24b(h - 1)
  }
  def buildWebpVp8(w: Int, h: Int): Array[Byte] = {
    require(w >= 1 && h >= 1 && w < (1 << 14) && h < (1 << 14))
    "RIFF".getBytes ++ le32b(22) ++ "WEBP".getBytes ++
      "VP8 ".getBytes ++ le32b(10) ++ Array[Byte](0, 0, 0) /* frame tag */ ++
      Array(0x9d.toByte, 0x01.toByte, 0x2a.toByte) ++
      le16b(w) ++ le16b(h)
  }
  def buildWebpVp8l(w: Int, h: Int): Array[Byte] = {
    require(w >= 1 && h >= 1 && w <= (1 << 14) && h <= (1 << 14))
    val p = w - 1; val q = h - 1
    val b1 = p & 0xff
    val b2 = ((p >> 8) & 0x3f) | ((q & 3) << 6)
    val b3 = (q >> 2) & 0xff
    val b4 = (q >> 10) & 0xf
    "RIFF".getBytes ++ le32b(17) ++ "WEBP".getBytes ++
      "VP8L".getBytes ++ le32b(5) ++
      Array(0x2f.toByte, b1.toByte, b2.toByte, b3.toByte, b4.toByte)
  }
  /** Minimal single-IFD TIFF (both endiannesses, SHORT or LONG dims). */
  def buildTiff(w: Int, h: Int, bigEndian: Boolean = false,
      longValues: Boolean = false): Array[Byte] = {
    def w16(v: Int) = if (bigEndian) Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      else Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def w32(v: Int) = if (bigEndian) Array(((v >> 24) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      else Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val typ = if (longValues) 4 else 3
    def entry(tagId: Int, v: Int) = w16(tagId) ++ w16(typ) ++ w32(1) ++
      (if (longValues) w32(v) else w16(v) ++ Array[Byte](0, 0))
    val magic = if (bigEndian) Array[Byte]('M', 'M', 0, 42)
      else Array[Byte]('I', 'I', 42, 0)
    magic ++ w32(8) /* IFD at 8 */ ++ w16(2) ++
      entry(256, w) ++ entry(257, h) ++ w32(0) /* next IFD */
  }

  /** Walk the JPEG marker chain to the first SOF segment (C0–CF minus the
    * non-frame C4/C8/CC); height is BE16 at +5, width at +7 within it. */
  private def parseJpeg(b: Array[Byte]): (String, Int, Int) = {
    var i = 2
    while (i + 3 < b.length) {
      if (u(b, i) != 0xff) return null // desynced marker chain
      val m = u(b, i + 1)
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01 || m == 0xff) {
        // standalone markers (no length field) / fill byte
        i += (if (m == 0xff) 1 else 2)
      } else {
        val len = be16(b, i + 2)
        if (len < 2) return null
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          if (i + 8 >= b.length) return null
          return ("jpeg", be16(b, i + 7), be16(b, i + 5))
        }
        i += 2 + len
      }
    }
    null
  }

  // --- deterministic container builders (test/query fixtures; the inverse
  // of parse for the header part — bodies are arbitrary payload bytes) ---

  private def be32b(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def le16b(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32b(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** A COMPLETE, spec-conformant 8-bit RGB PNG: real zlib-compressed IDAT
    * (java.util.zip.Deflater), real CRC32s, and a caller-chosen scanline
    * filter per row (`filterFor(y)` ∈ 0..4 — exercise none/sub/up/average/
    * paeth; the encoder applies the FORWARD filter so the decoder must
    * invert it). Any stock viewer opens the result; [[parsePngPixels]]
    * must round-trip it exactly. */
  def buildPngRgb(w: Int, h: Int, filterFor: Int => Int)(
      px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val stride = w * 3
    // unfiltered pixel rows
    val img = Array.tabulate(h, stride) { (y, i) =>
      val (r, g, bl) = px(i / 3, y)
      (i % 3 match { case 0 => r; case 1 => g; case _ => bl }) & 0xff
    }
    // forward-filtered scanline stream
    val rawLen = h * (stride + 1)
    val raw = new Array[Byte](rawLen)
    var y = 0
    while (y < h) {
      val ft = filterFor(y) match { case f if f >= 0 && f <= 4 => f; case _ => 0 }
      raw(y * (stride + 1)) = ft.toByte
      var x = 0
      while (x < stride) {
        val v = img(y)(x)
        val a = if (x >= 3) img(y)(x - 3) else 0
        val up = if (y > 0) img(y - 1)(x) else 0
        val c = if (x >= 3 && y > 0) img(y - 1)(x - 3) else 0
        val enc = ft match {
          case 0 => v
          case 1 => (v - a) & 0xff
          case 2 => (v - up) & 0xff
          case 3 => (v - ((a + up) >> 1)) & 0xff
          case _ =>
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up)
            val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
            (v - pred) & 0xff
        }
        raw(y * (stride + 1) + 1 + x) = enc.toByte
        x += 1
      }
      y += 1
    }
    // zlib-compress
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    // assemble chunks with real CRCs
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      crc.update(tb); crc.update(data)
      be32b(data.length) ++ tb ++ data ++ be32b(crc.getValue.toInt)
    }
    val ihdr = be32b(w) ++ be32b(h) ++ Array[Byte](8, 2, 0, 0, 0)
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", zbuf.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  // shared PNG assembly for the variant builders below
  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32()
    val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    crc.update(tb); crc.update(data)
    be32b(data.length) ++ tb ++ data ++ be32b(crc.getValue.toInt)
  }
  private def pngAssemble(w: Int, h: Int, depth: Int, ctype: Int,
      interlace: Int, plte: Option[Array[Byte]], raw: Array[Byte]): Array[Byte] = {
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    val ihdr = be32b(w) ++ be32b(h) ++
      Array(depth.toByte, ctype.toByte, 0.toByte, 0.toByte, interlace.toByte)
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      pngChunk("IHDR", ihdr) ++
      plte.map(p => pngChunk("PLTE", p)).getOrElse(Array.emptyByteArray) ++
      pngChunk("IDAT", zbuf.toByteArray) ++
      pngChunk("IEND", Array.emptyByteArray)
  }
  /** Forward-filter one sub-image (rows of `stride` bytes, filter delta
    * `bpp`), filter chosen per row. */
  private def filterSub(img: Array[Array[Int]], stride: Int, bpp: Int,
      filterFor: Int => Int, out: java.io.ByteArrayOutputStream): Unit = {
    var y = 0
    while (y < img.length) {
      val ft = filterFor(y) match { case f if f >= 0 && f <= 4 => f; case _ => 0 }
      out.write(ft)
      var x = 0
      while (x < stride) {
        val v = img(y)(x)
        val a = if (x >= bpp) img(y)(x - bpp) else 0
        val up = if (y > 0) img(y - 1)(x) else 0
        val c = if (x >= bpp && y > 0) img(y - 1)(x - bpp) else 0
        val enc = ft match {
          case 0 => v
          case 1 => (v - a) & 0xff
          case 2 => (v - up) & 0xff
          case 3 => (v - ((a + up) >> 1)) & 0xff
          case _ =>
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up)
            val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
            (v - pred) & 0xff
        }
        out.write(enc)
        x += 1
      }
      y += 1
    }
  }

  /** Adam7 pass grid (xStart, yStart, xStep, yStep) — T.81-adjacent PNG
    * spec ordering; note passes 4 and 6 START AT ROW 0 (the classic
    * transcription slip is giving them y offsets). */
  private[functions] val Adam7: Array[(Int, Int, Int, Int)] =
    Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Adam7-INTERLACED 8-bit RGB PNG: seven independently filtered passes
    * (the progressive-rendering layout; decode must reassemble the pass
    * grid). */
  def buildPngAdam7Rgb(w: Int, h: Int, filterFor: Int => Int)(
      px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val raw = new java.io.ByteArrayOutputStream()
    for ((x0, y0, dx, dy) <- Adam7) {
      val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (pw > 0 && ph > 0) {
        val img = Array.tabulate(ph, pw * 3) { (j, i) =>
          val (r, g, bl) = px(x0 + (i / 3) * dx, y0 + j * dy)
          (i % 3 match { case 0 => r; case 1 => g; case _ => bl }) & 0xff
        }
        filterSub(img, pw * 3, 3, filterFor, raw)
      }
    }
    pngAssemble(w, h, 8, 2, 1, None, raw.toByteArray)
  }

  /** 16-bit grayscale PNG (big-endian samples; decoders scale to 8 by the
    * high byte per the spec). */
  def buildPngGray16(w: Int, h: Int, filterFor: Int => Int)(
      v16: (Int, Int) => Int): Array[Byte] = {
    val img = Array.tabulate(h, w * 2) { (y, i) =>
      val s = v16(i / 2, y) & 0xffff
      (if (i % 2 == 0) s >> 8 else s & 0xff)
    }
    val raw = new java.io.ByteArrayOutputStream()
    filterSub(img, w * 2, 2, filterFor, raw)
    pngAssemble(w, h, 16, 0, 0, None, raw.toByteArray)
  }

  /** 8-bit palette (color type 3) PNG with a PLTE chunk. */
  def buildPngPalette(w: Int, h: Int, palette: Array[(Int, Int, Int)],
      idx: Array[Int], filterFor: Int => Int = _ => 0): Array[Byte] = {
    require(idx.length == w * h && palette.nonEmpty && palette.length <= 256)
    val plte = palette.flatMap { case (r, g, b) =>
      Array(r.toByte, g.toByte, b.toByte) }
    val img = Array.tabulate(h, w)((y, x) => idx(y * w + x) & 0xff)
    val raw = new java.io.ByteArrayOutputStream()
    filterSub(img, w, 1, filterFor, raw)
    pngAssemble(w, h, 8, 3, 0, Some(plte), raw.toByteArray)
  }

  /** A syntactically valid PNG signature + IHDR carrying (w, h), followed by
    * `body` as opaque trailing bytes (no CRC check is performed by header
    * parsers, ours included — pixel data is irrelevant to the header path). */
  def buildPng(w: Int, h: Int, body: Array[Byte]): Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      be32b(13) ++ "IHDR".getBytes ++ be32b(w) ++ be32b(h) ++
      Array[Byte](8, 2, 0, 0, 0) ++ be32b(0) ++ body

  def buildGif(w: Int, h: Int, body: Array[Byte]): Array[Byte] =
    "GIF89a".getBytes ++ le16b(w) ++ le16b(h) ++
      Array[Byte](0, 0, 0) ++ body

  def buildBmp(w: Int, h: Int, body: Array[Byte]): Array[Byte] =
    "BM".getBytes ++ le32b(54 + body.length) ++ le32b(0) ++ le32b(54) ++
      le32b(40) ++ le32b(w) ++ le32b(h) ++ le16b(1) ++ le16b(24) ++
      new Array[Byte](24) ++ body

  /** A complete uncompressed 24-bit BI_RGB BMP: rows stored bottom-up
    * (top-down when `topDown`, via negative biHeight), each padded to a
    * 4-byte boundary; `px(x, y)` gives the (r, g, b) of IMAGE coordinate
    * (x, y) — (0, 0) is top-left regardless of storage order. The honest
    * inverse of [[parseBmpPixels]]: this format needs no codec library,
    * so pixel decode for it is REAL, not stubbed. */
  def buildBmp24(w: Int, h: Int, topDown: Boolean)(
      px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val stride = (w * 3 + 3) & ~3
    val out = new Array[Byte](54 + stride * h)
    def putLe32(at: Int, v: Int): Unit = {
      out(at) = (v & 0xff).toByte; out(at + 1) = ((v >> 8) & 0xff).toByte
      out(at + 2) = ((v >> 16) & 0xff).toByte; out(at + 3) = ((v >> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    putLe32(2, out.length); putLe32(10, 54)
    putLe32(14, 40); putLe32(18, w); putLe32(22, if (topDown) -h else h)
    out(26) = 1; out(28) = 24 // planes, bpp (LE16 low bytes; high stay 0)
    putLe32(30, 0); putLe32(34, stride * h) // BI_RGB, sizeImage
    var y = 0
    while (y < h) {
      val sy = if (topDown) y else h - 1 - y
      val base = 54 + sy * stride
      var x = 0
      while (x < w) {
        val (r, g, bl) = px(x, y)
        out(base + x * 3) = bl.toByte
        out(base + x * 3 + 1) = g.toByte
        out(base + x * 3 + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL pixel decode for uncompressed 24-bit BI_RGB BMPs:
    * (width, height, n_px, sum_r, sum_g, sum_b, luma_sum, first_luma), or
    * null for anything else (other depths/compressions need a codec and
    * stay behind the multimodal stub). Orientation-aware: `first_luma` is
    * the TOP-LEFT image pixel whatever the storage order. Luma is the
    * exact integer approximation (77r + 150g + 29b) >> 8, so an oracle
    * can reproduce every field arithmetically. */
  def parseBmpPixels(b: Array[Byte]): (Int, Int, Long, Long, Long, Long, Long, Long) = {
    if (b == null || !isBmp(b) || b.length < 54) return null
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    if (bpp != 24 || compression != 0) return null
    val off = le32(b, 10)
    val w = le32(b, 18)
    val rawH = le32(b, 22)
    val topDown = rawH < 0
    val h = math.abs(rawH)
    if (w <= 0 || h <= 0 || off < 54) return null
    val stride = (w.toLong * 3 + 3) & ~3L
    if (stride > Int.MaxValue || off.toLong + stride * h > b.length) return null
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var lumaSum = 0L
    var firstLuma = 0L
    var y = 0
    while (y < h) {
      val sy = if (topDown) y else h - 1 - y
      val base = off + sy * stride.toInt
      var x = 0
      while (x < w) {
        val bl = u(b, base + x * 3)
        val g = u(b, base + x * 3 + 1)
        val r = u(b, base + x * 3 + 2)
        sumR += r; sumG += g; sumB += bl
        val luma = (77 * r + 150 * g + 29 * bl) >> 8
        lumaSum += luma
        if (x == 0 && y == 0) firstLuma = luma
        x += 1
      }
      y += 1
    }
    (w, h, w.toLong * h, sumR, sumG, sumB, lumaSum, firstLuma)
  }

  /** REAL pixel decode for PNGs — 8- and 16-bit, gray / RGB / gray+alpha
    * / RGBA / palette (PLTE), interlaced (Adam7) or not: same stats
    * contract as [[parseBmpPixels]] — (width, height, n_px, sum_r, sum_g,
    * sum_b, luma_sum, first_luma) — null for anything else (packed
    * sub-8-bit palette depths, malformed zlib, truncated). PNG needs NO
    * codec library: IDAT is zlib (`java.util.zip.Inflater`, in the JDK)
    * and the five scanline filters (none/sub/up/average/paeth) are pure
    * integer arithmetic — genuine full-body decode. 16-bit samples scale
    * to 8 by the high byte (the spec's sample-depth scaling); alpha is
    * ignored for the sums; gray replicates into r=g=b; Adam7 passes are
    * independently filtered sub-images reduced in pass order. Defensive
    * by design (a malformed payload in a watched directory must route,
    * not crash): dimensions and the decompressed size are bounded
    * (≤256 MB) BEFORE allocation, every chunk length is checked against
    * the buffer, and inflate errors return null. */
  def parsePngPixels(b: Array[Byte]): (Int, Int, Long, Long, Long, Long, Long, Long) = {
    if (b == null || !isPng(b) || b.length < 33) return null
    if (be32(b, 8) != 13) return null // IHDR data length
    val w = be32(b, 16); val h = be32(b, 20)
    val depth = u(b, 24); val ctype = u(b, 25)
    val comp = u(b, 26); val fm = u(b, 27); val interlace = u(b, 28)
    if (w <= 0 || h <= 0 || comp != 0 || fm != 0 || interlace > 1) return null
    val channels = ctype match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return null
    }
    // palette entries are 8-bit indices only; other types take 8 or 16
    if (ctype == 3 && depth != 8) return null
    if (ctype != 3 && depth != 8 && depth != 16) return null
    val bps = depth / 8 // bytes per sample
    val bpp = channels * bps // filter delta distance
    // Adam7 pass grid: (xStart, yStart, xStep, yStep); one full pass when
    // not interlaced
    val passes: Array[(Int, Int, Int, Int)] =
      if (interlace == 0) Array((0, 0, 1, 1))
      else ImageHeaders.Adam7
    def passW(p: (Int, Int, Int, Int)): Int =
      if (w > p._1) (w - p._1 + p._3 - 1) / p._3 else 0
    def passH(p: (Int, Int, Int, Int)): Int =
      if (h > p._2) (h - p._2 + p._4 - 1) / p._4 else 0
    var expected = 0L
    passes.foreach { p =>
      val pw = passW(p); val ph = passH(p)
      if (pw > 0 && ph > 0) expected += ph.toLong * (1L + pw.toLong * bpp)
    }
    if (expected <= 0 || expected > (1L << 28)) return null
    // collect IDAT (and PLTE when palette) — chunk walk in Long
    val idat = new java.io.ByteArrayOutputStream()
    var plteOff = -1; var plteN = 0
    var i = 33L
    var sawEnd = false
    while (!sawEnd && i + 8 <= b.length) {
      val len = be32(b, i.toInt)
      if (len < 0 || i + 8 + len.toLong + 4 > b.length) return null
      val t = new String(b, i.toInt + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (t == "IDAT") idat.write(b, i.toInt + 8, len)
      if (t == "PLTE") { plteOff = i.toInt + 8; plteN = len / 3 }
      if (t == "IEND") sawEnd = true
      i += 8L + len + 4L
    }
    if (idat.size == 0) return null
    if (ctype == 3 && plteN <= 0) return null
    val raw = new Array[Byte](expected.toInt)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return null
        off += n
      }
      if (off != raw.length) return null
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var lumaSum = 0L
    var firstLuma = 0L
    var base = 0
    var pi = 0
    while (pi < passes.length) {
      val p = passes(pi)
      val pw = passW(p); val ph = passH(p)
      if (pw > 0 && ph > 0) {
        val stride = pw * bpp
        val prev = new Array[Int](stride)
        val cur = new Array[Int](stride)
        java.util.Arrays.fill(prev, 0)
        var y = 0
        while (y < ph) {
          val ft = raw(base) & 0xff
          if (ft > 4) return null
          var x = 0
          while (x < stride) {
            val rv = raw(base + 1 + x) & 0xff
            val a = if (x >= bpp) cur(x - bpp) else 0
            val up = prev(x)
            val c = if (x >= bpp) prev(x - bpp) else 0
            cur(x) = ft match {
              case 0 => rv
              case 1 => (rv + a) & 0xff
              case 2 => (rv + up) & 0xff
              case 3 => (rv + ((a + up) >> 1)) & 0xff
              case _ =>
                val pr = a + up - c
                val pa = math.abs(pr - a); val pb = math.abs(pr - up)
                val pc = math.abs(pr - c)
                val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
                (rv + pred) & 0xff
            }
            x += 1
          }
          var px = 0
          while (px < pw) {
            val o = px * bpp
            // sample value: high byte for 16-bit (spec sample scaling)
            @inline def s(ch: Int): Int = cur(o + ch * bps)
            var r = 0; var g = 0; var bl = 0
            if (ctype == 3) {
              val idx = cur(o)
              if (idx >= plteN) return null
              r = u(b, plteOff + 3 * idx)
              g = u(b, plteOff + 3 * idx + 1)
              bl = u(b, plteOff + 3 * idx + 2)
            } else if (channels >= 3) { r = s(0); g = s(1); bl = s(2) }
            else { r = s(0); g = r; bl = r }
            sumR += r; sumG += g; sumB += bl
            val luma = (77 * r + 150 * g + 29 * bl) >> 8
            lumaSum += luma
            if (p._1 + px.toLong * p._3 == 0 && p._2 + y.toLong * p._4 == 0)
              firstLuma = luma // the image-space (0,0) pixel, whatever pass
            px += 1
          }
          System.arraycopy(cur, 0, prev, 0, stride)
          base += 1 + stride
          y += 1
        }
      }
      pi += 1
    }
    (w, h, w.toLong * h, sumR, sumG, sumB, lumaSum, firstLuma)
  }

  /** Minimal SOI + APP0 + SOF0 prefix carrying (w, h), then `body`. */
  def buildJpeg(w: Int, h: Int, body: Array[Byte]): Array[Byte] = {
    val sof = Array[Byte](0xff.toByte, 0xc0.toByte, 0, 11, 8) ++
      Array(((h >> 8) & 0xff).toByte, (h & 0xff).toByte,
        ((w >> 8) & 0xff).toByte, (w & 0xff).toByte) ++ Array[Byte](1, 0x11, 0)
    Array(0xff, 0xd8).map(_.toByte) ++ sof ++ body
  }
}

/** `image_header(binary)` → `struct<format string, width int, height int>`,
  * null for unrecognized payloads. Catalyst-native so header triage of a
  * 100 TB media corpus stays inside whole-stage codegen — no UDF boxing,
  * no Python round trip; the one opaque call pattern matches
  * pack_chunk/gear_boundaries. */
case class ImageHeader(child: Expression)
    extends BinaryCodecExpression("image_header", ImageHeader.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val parsed = ImageHeaders.parse(payload.asInstanceOf[Array[Byte]])
    if (parsed == null) null
    else InternalRow(UTF8String.fromString(parsed._1), parsed._2, parsed._3)
  }

  override protected def withNewChildInternal(newChild: Expression): ImageHeader =
    copy(child = newChild)
}

object ImageHeader {
  val resultType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  def imageHeader(media: Column): Column =
    GraftColumnShim.column(ImageHeader(GraftColumnShim.expression(media)))
}

/** `bmp_pixels(binary)` → `struct<width int, height int, n_px long,
  * sum_r long, sum_g long, sum_b long, luma_sum long, first_luma long>`,
  * null unless the payload is an uncompressed 24-bit BI_RGB BMP. The
  * format needs no codec library, so this is REAL pixel decode running
  * inside whole-stage codegen — the multimodal stub now covers only
  * formats whose bodies genuinely need a codec (JPEG/PNG/GIF, MP4). */
case class BmpPixels(child: Expression)
    extends BinaryCodecExpression("bmp_pixels", BmpPixels.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val p = ImageHeaders.parseBmpPixels(payload.asInstanceOf[Array[Byte]])
    if (p == null) null
    else InternalRow(p._1, p._2, p._3, p._4, p._5, p._6, p._7, p._8)
  }

  override protected def withNewChildInternal(newChild: Expression): BmpPixels =
    copy(child = newChild)
}

object BmpPixels {
  val resultType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_px", LongType),
    StructField("sum_r", LongType),
    StructField("sum_g", LongType),
    StructField("sum_b", LongType),
    StructField("luma_sum", LongType),
    StructField("first_luma", LongType)))

  def bmpPixels(media: Column): Column =
    GraftColumnShim.column(BmpPixels(GraftColumnShim.expression(media)))
}

/** `png_pixels(binary)` → the same stats struct as `bmp_pixels`, for
  * gray/RGB/gray-alpha/RGBA PNGs at 8- or 16-bit depth plus 8-bit
  * palette, both sequential and Adam7-interlaced — REAL full-body decode
  * (zlib inflate
  * via the JDK + the five scanline filters inverted in pure integer
  * arithmetic), inside whole-stage codegen. Null for sub-8-bit depths and
  * malformed payloads — route, don't crash. With
  * [[BmpPixels]] and [[PcmStats]] this retires the pixel-decode stub for
  * every format whose body doesn't need an entropy codec beyond DEFLATE. */
case class PngPixels(child: Expression)
    extends BinaryCodecExpression("png_pixels", BmpPixels.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val p = ImageHeaders.parsePngPixels(payload.asInstanceOf[Array[Byte]])
    if (p == null) null
    else InternalRow(p._1, p._2, p._3, p._4, p._5, p._6, p._7, p._8)
  }

  override protected def withNewChildInternal(newChild: Expression): PngPixels =
    copy(child = newChild)
}

object PngPixels {
  def pngPixels(media: Column): Column =
    GraftColumnShim.column(PngPixels(GraftColumnShim.expression(media)))
}
