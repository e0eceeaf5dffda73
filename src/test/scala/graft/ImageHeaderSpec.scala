package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ImageHeaders

/** Library-free image container parsing: parse must invert the builders for
  * every format, agree with independently hand-laid-out header bytes (so
  * builder and parser can't share a wrong offset), reject non-images, and
  * run as a native expression with codegen fallback disabled.
  */
class ImageHeaderSpec extends AnyFunSuite with LocalSpark {

  test("parse inverts build for all four formats") {
    val body = "pixels-go-here".getBytes
    for ((fmt, bytes) <- Seq(
        "png" -> ImageHeaders.buildPng(640, 480, body),
        "gif" -> ImageHeaders.buildGif(320, 200, body),
        "bmp" -> ImageHeaders.buildBmp(1024, 768, body),
        "jpeg" -> ImageHeaders.buildJpeg(4096, 2160, body))) {
      val parsed = ImageHeaders.parse(bytes)
      assert(parsed != null, s"$fmt did not parse")
      assert(parsed._1 == fmt)
      fmt match {
        case "png"  => assert((parsed._2, parsed._3) == (640, 480))
        case "gif"  => assert((parsed._2, parsed._3) == (320, 200))
        case "bmp"  => assert((parsed._2, parsed._3) == (1024, 768))
        case "jpeg" => assert((parsed._2, parsed._3) == (4096, 2160))
      }
    }
  }

  test("parse agrees with hand-laid-out header bytes (spec offsets, not builder offsets)") {
    // PNG: 8-byte signature, IHDR length+type at 8..15, width BE32 at 16,
    // height BE32 at 20 (PNG spec §11.2.2). 2x3 image:
    val png = Array[Int](
      0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0, 2, 0, 0, 0, 3,
      8, 2, 0, 0, 0).map(_.toByte)
    assert(ImageHeaders.parse(png) == ("png", 2, 3))
    // GIF89a: width LE16 at 6, height LE16 at 8. 300x7 = 0x012C x 0x0007:
    val gif = "GIF89a".getBytes ++ Array[Int](0x2c, 0x01, 0x07, 0x00, 0, 0, 0).map(_.toByte)
    assert(ImageHeaders.parse(gif) == ("gif", 300, 7))
    // JPEG: SOI, APP0 segment (skipped via its length), then SOF0 with
    // height BE16 at +5 and width BE16 at +7. 17x9 after a 4-byte APP0:
    val jpeg = Array[Int](0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x04, 0x00, 0x00, // APP0, length 4 (2 payload bytes)
      0xff, 0xc0, 0x00, 0x0b, 8, 0x00, 0x09, 0x00, 0x11, 1, 0x11, 0).map(_.toByte)
    assert(ImageHeaders.parse(jpeg) == ("jpeg", 17, 9))
  }

  test("WebP (VP8X/VP8/VP8L) and TIFF (II/MM, SHORT/LONG) dims round-trip") {
    for ((w, h) <- Seq((1, 1), (640, 360), (16383, 16383), (1920, 1080))) {
      assert(ImageHeaders.parse(ImageHeaders.buildWebpVp8x(w, h)) == ("webp", w, h))
      assert(ImageHeaders.parse(ImageHeaders.buildWebpVp8(w, h)) == ("webp", w, h))
      assert(ImageHeaders.parse(ImageHeaders.buildWebpVp8l(w, h)) == ("webp", w, h))
      for (be <- Seq(false, true); lv <- Seq(false, true))
        assert(ImageHeaders.parse(ImageHeaders.buildTiff(w, h, be, lv)) ==
          ("tiff", w, h), s"tiff be=$be long=$lv $w x $h")
    }
    // VP8X canvas can exceed 14 bits
    assert(ImageHeaders.parse(ImageHeaders.buildWebpVp8x(100000, 70000)) ==
      ("webp", 100000, 70000))
    // a RIFF/WAVE file is NOT a webp; a lying VP8 sync code rejects
    assert(ImageHeaders.parse(
      ImageHeaders.buildBmp24(2, 2, topDown = false)((_, _) => (1, 2, 3)))._1 == "bmp")
    val badSync = ImageHeaders.buildWebpVp8(10, 10)
    badSync(23) = 0x00
    assert(ImageHeaders.parse(badSync) == null)
    // TIFF with hostile declared dims rejects; truncations never throw
    val huge = ImageHeaders.buildTiff(1 << 21, 4)
    assert(ImageHeaders.parse(huge) == null)
    val good = ImageHeaders.buildTiff(33, 44, bigEndian = true)
    for (n <- 0 to good.length) ImageHeaders.parse(good.take(n))
  }

  test("non-image payloads return null") {
    assert(ImageHeaders.parse("plain text document".getBytes) == null)
    assert(ImageHeaders.parse(Array.emptyByteArray) == null)
    assert(ImageHeaders.parse("BM".getBytes) == null) // too short for a DIB
    // JPEG SOI followed by a desynced (non-marker) byte stream
    assert(ImageHeaders.parse(Array[Int](0xff, 0xd8, 0x00, 0x01).map(_.toByte)) == null)
  }

  test("WAV parse inverts build and computes exact integer duration") {
    import graft.functions.AudioHeaders
    val body = new Array[Byte](32000) // 1 s of 16 kHz mono 16-bit PCM
    val wav = AudioHeaders.buildWav(1, 16000, 16, body)
    assert(AudioHeaders.parseWav(wav) == ("pcm", 1, 16000, 16, 1000000L))
    // stereo 8-bit at 8 kHz: 4000 bytes -> 250 ms
    val w2 = AudioHeaders.buildWav(2, 8000, 8, new Array[Byte](4000))
    assert(AudioHeaders.parseWav(w2) == ("pcm", 2, 8000, 8, 250000L))
    // chunk walk: an odd-sized LIST chunk (with pad byte) before fmt/data
    val le32 = (v: Int) => Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val tail = AudioHeaders.buildWav(1, 8000, 8, new Array[Byte](100)).drop(12)
    val padded = "RIFF".getBytes ++ le32(4 + 8 + 3 + 1 + tail.length) ++
      "WAVE".getBytes ++ "LIST".getBytes ++ le32(3) ++ Array[Byte](1, 2, 3, 0) ++ tail
    assert(AudioHeaders.parseWav(padded) == ("pcm", 1, 8000, 8, 12500L))
    // rejections: not RIFF, RIFF but not WAVE, non-PCM fmt code
    assert(AudioHeaders.parseWav("plain text that is long enough to pass the length gate".getBytes) == null)
    val notWave = "RIFF".getBytes ++ le32(36) ++ "AVI ".getBytes ++ new Array[Byte](32)
    assert(AudioHeaders.parseWav(notWave) == null)
    val nonPcm = AudioHeaders.buildWav(1, 8000, 8, new Array[Byte](10))
    nonPcm(20) = 3 // fmt code IEEE float
    assert(AudioHeaders.parseWav(nonPcm) == null)
  }

  test("MP4 parse inverts build; box walk handles largesize and rejects non-BMFF") {
    import graft.functions.VideoHeaders
    val body = "frames".getBytes
    // 90 kHz timescale, 90000 ticks -> exactly 1 s
    assert(VideoHeaders.parseMp4(VideoHeaders.buildMp4("isom", 90000, 90000, body)) ==
      ("isom", 90000, 1000000L))
    // 600 ticks/s, 90 ticks -> 150 ms; brand preserved
    assert(VideoHeaders.parseMp4(VideoHeaders.buildMp4("mp42", 600, 90, body)) ==
      ("mp42", 600, 150000L))
    // 64-bit largesize on the mdat box (size==1 + 8-byte size) still parses
    val base = VideoHeaders.buildMp4("isom", 1000, 500, Array.emptyByteArray)
    val be32 = (v: Int) => Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val largeMdat = be32(1) ++ "mdat".getBytes ++
      Array[Byte](0, 0, 0, 0) ++ be32(16 + body.length) ++ body
    assert(VideoHeaders.parseMp4(base.dropRight(8) ++ largeMdat) ==
      ("isom", 1000, 500000L))
    // rejections: not leading with ftyp; plain text; truncated box size
    assert(VideoHeaders.parseMp4("plain text long enough to walk".getBytes) == null)
    val noFtyp = VideoHeaders.buildMp4("isom", 1000, 500, body).drop(16)
    assert(VideoHeaders.parseMp4(noFtyp) == null)
    val lying = VideoHeaders.buildMp4("isom", 1000, 500, body)
    val overrun = be32(9999) ++ "mdat".getBytes
    assert(VideoHeaders.parseMp4(lying.take(16) ++ overrun) == null)
  }

  test("top-down BMP (negative biHeight) surfaces positive height") {
    val le32 = (v: Int) => Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // 14-byte file header + BITMAPINFOHEADER with biHeight = -768 (top-down)
    val bmp = "BM".getBytes ++ le32(26 + 8) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(1024) ++ le32(-768) ++ new Array[Byte](8)
    assert(ImageHeaders.parse(bmp) == ("bmp", 1024, 768))
  }

  test("malformed containers degrade to null/skip, never crash") {
    import graft.functions.{AudioHeaders, VideoHeaders}
    val le32 = (v: Int) => Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val be32 = (v: Int) => Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    // RIFF chunk declaring a length near 2^31: the cursor walk must not
    // wrap Int-negative and index-crash — malformed media in a watched
    // dir must route to dead-letter, not kill the stream
    val huge = "RIFF".getBytes ++ le32(0x7ffffff0) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ le32(0x7ffffff0) ++ new Array[Byte](64)
    assert(AudioHeaders.parseWav(huge) == null)
    // declared data size survives even when a later chunk overruns
    val tail = AudioHeaders.buildWav(1, 8000, 8, new Array[Byte](100)).drop(12)
    val overrunAfter = "RIFF".getBytes ++ le32(1000) ++ "WAVE".getBytes ++
      tail ++ "LIST".getBytes ++ le32(0x7fffff00)
    assert(AudioHeaders.parseWav(overrunAfter) == ("pcm", 1, 8000, 8, 12500L))
    // v1 mvhd truncated right before its 64-bit duration (csize = chdr+28
    // < chdr+32): must return null, not ArrayIndexOutOfBounds
    val ftyp = be32(16) ++ "ftyp".getBytes ++ "isom".getBytes ++ be32(0)
    val mvhdV1Short = be32(8 + 28) ++ "mvhd".getBytes ++
      Array[Byte](1, 0, 0, 0) ++ new Array[Byte](24)
    val moov = be32(8 + mvhdV1Short.length) ++ "moov".getBytes ++ mvhdV1Short
    assert(VideoHeaders.parseMp4(ftyp ++ moov) == null)
  }

  test("BMP pixel decode inverts build across padding and both row orders") {
    // w=3 forces row padding (9 bytes -> stride 12); the gradient is
    // asymmetric in y so a parser that ignores storage order gets
    // first_luma (top-left pixel) wrong on the bottom-up build
    def px(x: Int, y: Int): (Int, Int, Int) = (10 * y + x, 100 + x, 20 * y)
    for (topDown <- Seq(false, true)) {
      val bytes = ImageHeaders.buildBmp24(3, 2, topDown)(px)
      val p = ImageHeaders.parseBmpPixels(bytes)
      assert(p != null, s"topDown=$topDown did not parse")
      val (w, h, nPx, sumR, sumG, sumB, lumaSum, firstLuma) = p
      assert((w, h, nPx) == ((3, 2, 6L)))
      val all = for (y <- 0 until 2; x <- 0 until 3) yield px(x, y)
      assert(sumR == all.map(_._1.toLong).sum)
      assert(sumG == all.map(_._2.toLong).sum)
      assert(sumB == all.map(_._3.toLong).sum)
      def luma(t: (Int, Int, Int)) = ((77 * t._1 + 150 * t._2 + 29 * t._3) >> 8).toLong
      assert(lumaSum == all.map(luma).sum)
      assert(firstLuma == luma(px(0, 0)),
        s"topDown=$topDown must locate the TOP-LEFT pixel")
      // and the header parse agrees on dims either way
      assert(ImageHeaders.parse(bytes) == ("bmp", 3, 2))
    }
    // non-decodable BMPs (wrong depth / compressed) parse headers but
    // return null pixels: they stay behind the multimodal stub
    val b16 = ImageHeaders.buildBmp24(2, 2, topDown = false)((_, _) => (0, 0, 0))
    b16(28) = 16 // bpp
    assert(ImageHeaders.parseBmpPixels(b16) == null)
    val rle = ImageHeaders.buildBmp24(2, 2, topDown = false)((_, _) => (0, 0, 0))
    rle(30) = 1 // BI_RLE8
    assert(ImageHeaders.parseBmpPixels(rle) == null)
    // truncated pixel array (declared dims exceed the buffer)
    val short = ImageHeaders.buildBmp24(4, 4, topDown = false)((_, _) => (1, 2, 3))
    assert(ImageHeaders.parseBmpPixels(short.take(short.length - 8)) == null)
  }

  test("PNG pixel decode inverts zlib+filter build across all five filters") {
    def px(x: Int, y: Int): (Int, Int, Int) =
      ((7 * x + 13 * y) % 256, (255 - 11 * x + 3 * y) % 256, (29 * x * y + 5) % 256)
    def luma(t: (Int, Int, Int)) = ((77 * t._1 + 150 * t._2 + 29 * t._3) >> 8).toLong
    // one image per filter, plus a mixed-filter image (row y uses filter y%5)
    val filterChoices: Seq[Int => Int] =
      (0 to 4).map(f => (_: Int) => f) :+ ((y: Int) => y % 5)
    for ((ff, idx) <- filterChoices.zipWithIndex) {
      val bytes = ImageHeaders.buildPngRgb(5, 7, ff)(px)
      val p = ImageHeaders.parsePngPixels(bytes)
      assert(p != null, s"filter case $idx did not decode")
      val (w, h, nPx, sumR, sumG, sumB, lumaSum, firstLuma) = p
      assert((w, h, nPx) == ((5, 7, 35L)))
      val all = for (y <- 0 until 7; x <- 0 until 5) yield px(x, y)
      assert(sumR == all.map(_._1.toLong).sum, s"sum_r filter case $idx")
      assert(sumG == all.map(_._2.toLong).sum, s"sum_g filter case $idx")
      assert(sumB == all.map(_._3.toLong).sum, s"sum_b filter case $idx")
      assert(lumaSum == all.map(luma).sum, s"luma filter case $idx")
      assert(firstLuma == luma(px(0, 0)))
      // header parse agrees with the pixel parse
      assert(ImageHeaders.parse(bytes) == ("png", 5, 7))
    }
    // PNG and BMP built from the SAME pixel matrix reduce to the SAME stats
    val fromPng = ImageHeaders.parsePngPixels(
      ImageHeaders.buildPngRgb(3, 2, _ % 5)(px))
    val fromBmp = ImageHeaders.parseBmpPixels(
      ImageHeaders.buildBmp24(3, 2, topDown = false)(px))
    assert(fromPng == fromBmp)
  }

  test("Adam7 interlaced PNG decodes to the same stats as the plain build") {
    def px(x: Int, y: Int): (Int, Int, Int) =
      ((13 * x + 7 * y + 5) % 256, (3 * x * y + 11) % 256, (251 - 9 * x + y) % 256)
    // dims chosen so several passes are empty or single-row/column
    for ((w, h) <- Seq((1, 1), (2, 2), (3, 5), (8, 8), (9, 7), (16, 17))) {
      val plain = ImageHeaders.parsePngPixels(
        ImageHeaders.buildPngRgb(w, h, _ % 5)(px))
      val inter = ImageHeaders.parsePngPixels(
        ImageHeaders.buildPngAdam7Rgb(w, h, y => (y + 2) % 5)(px))
      assert(inter != null, s"interlaced ${w}x$h did not decode")
      assert(inter == plain, s"interlaced ${w}x$h stats diverge")
    }
  }

  test("16-bit PNG scales to 8 by the high byte; palette PNG maps PLTE") {
    // 16-bit gray: v16 = (v8 << 8) | junk-low-byte must decode as v8
    def v8(x: Int, y: Int): Int = (29 * x + 57 * y + 3) % 256
    val g16 = ImageHeaders.parsePngPixels(
      ImageHeaders.buildPngGray16(6, 5, _ % 5)((x, y) =>
        (v8(x, y) << 8) | ((x * y * 37) % 256)))
    assert(g16 != null)
    val all = for (y <- 0 until 5; x <- 0 until 6) yield v8(x, y)
    assert(g16._4 == all.map(_.toLong).sum) // sum_r over gray
    assert(g16._4 == g16._5 && g16._5 == g16._6)
    // palette: same stats as a BMP of the mapped colors
    val pal = Array((10, 220, 40), (200, 30, 90), (0, 0, 255), (255, 128, 0))
    val idx = Array.tabulate(12)(i => (i * 3 + 1) % pal.length)
    val fromPal = ImageHeaders.parsePngPixels(
      ImageHeaders.buildPngPalette(4, 3, pal, idx, _ % 5))
    val fromBmp = ImageHeaders.parseBmpPixels(
      ImageHeaders.buildBmp24(4, 3, topDown = false)((x, y) => pal(idx(y * 4 + x))))
    assert(fromPal == fromBmp)
    // palette index outside PLTE → null, not a crash: the builder does not
    // range-check indices, so a 2-entry palette with index byte 3 in the
    // stream exercises the decoder's idx >= plteN guard directly
    val inRange = ImageHeaders.buildPngPalette(2, 1, pal.take(2), Array(0, 1))
    assert(ImageHeaders.parsePngPixels(inRange) != null) // sanity: in-range decodes
    val overIdx = ImageHeaders.buildPngPalette(2, 1, pal.take(2), Array(0, 3))
    assert(ImageHeaders.parsePngPixels(overIdx) == null)
    // and the max byte value (255) against a tiny palette — still null
    val maxIdx = ImageHeaders.buildPngPalette(2, 1, pal.take(2), Array(255, 0))
    assert(ImageHeaders.parsePngPixels(maxIdx) == null)
  }

  test("PNG pixel decode degrades to null on unsupported/malformed, never crashes") {
    val good = ImageHeaders.buildPngRgb(4, 4, _ => 2)((x, y) => (x, y, x + y))
    assert(ImageHeaders.parsePngPixels(good) != null)
    // truncated IDAT → null (inflate starves)
    assert(ImageHeaders.parsePngPixels(good.take(good.length - 20)) == null)
    // corrupt zlib stream → null, not DataFormatException
    val corrupt = good.clone()
    corrupt(45) = (corrupt(45) ^ 0x5a).toByte
    assert(ImageHeaders.parsePngPixels(corrupt) == null) // may also still parse; must not throw
    // interlace flag flipped on a NON-interlaced stream: the Adam7 pass
    // layout expects a different decompressed size → null, not garbage
    val interlaced = good.clone(); interlaced(28) = 1
    assert(ImageHeaders.parsePngPixels(interlaced) == null)
    // depth/type flags flipped without matching data: 16-bit doubles the
    // expected stream, palette demands a PLTE — both reject cleanly
    val deep = good.clone(); deep(24) = 16
    assert(ImageHeaders.parsePngPixels(deep) == null)
    val pal = good.clone(); pal(25) = 3
    assert(ImageHeaders.parsePngPixels(pal) == null)
    // hostile dims: declared 2^15 × 2^15 RGB would be 3 GiB — bounded reject
    val huge = good.clone()
    def putBe32(b: Array[Byte], at: Int, v: Int): Unit = {
      b(at) = (v >> 24).toByte; b(at + 1) = (v >> 16).toByte
      b(at + 2) = (v >> 8).toByte; b(at + 3) = v.toByte
    }
    putBe32(huge, 16, 1 << 15); putBe32(huge, 20, 1 << 15)
    assert(ImageHeaders.parsePngPixels(huge) == null)
    // header-only PNG (x102's builder: IHDR + opaque body, no IDAT) → null
    assert(ImageHeaders.parsePngPixels(
      ImageHeaders.buildPng(8, 8, "junk".getBytes)) == null)
  }

  test("G.711 mu-law/A-law decode: spec anchor codes, symmetry, WAV stats") {
    import graft.functions.AudioHeaders
    // mu-law anchors: 0x00 = most negative (-32124), 0x80 = most positive
    // (+32124), 0xFF = zero (the inverted-all-ones silence code)
    assert(AudioHeaders.ulawToLinear(0x00) == -32124)
    assert(AudioHeaders.ulawToLinear(0x80) == 32124)
    assert(AudioHeaders.ulawToLinear(0xff) == 0)
    // code and code^0x80 are exact negations across the whole table
    for (c <- 0 until 128)
      assert(AudioHeaders.ulawToLinear(c) == -AudioHeaders.ulawToLinear(c | 0x80))
    // A-law anchors: 0x55 = -8 (smallest negative), 0xD5 = +8, extremes ±32256
    assert(AudioHeaders.alawToLinear(0x55) == -8)
    assert(AudioHeaders.alawToLinear(0xd5) == 8)
    assert(AudioHeaders.alawToLinear(0x2a) == -32256)
    assert(AudioHeaders.alawToLinear(0xaa) == 32256)
    for (c <- 0 until 128)
      assert(AudioHeaders.alawToLinear(c) == -AudioHeaders.alawToLinear(c | 0x80))
    // end-to-end through the WAV container: stats equal the direct
    // expansion of the code stream, and the header reports the codec
    val codes = Array.tabulate(300)(i => (i * 37 + 11) % 256)
    for ((fmt, name, dec) <- Seq(
        (7, "ulaw", (c: Int) => AudioHeaders.ulawToLinear(c)),
        (6, "alaw", (c: Int) => AudioHeaders.alawToLinear(c)))) {
      val wav = AudioHeaders.buildWav(1, 8000, 8, codes.map(_.toByte), fmt)
      val hdr = AudioHeaders.parseWav(wav)
      assert(hdr != null && hdr._1 == name)
      val st = AudioHeaders.parsePcmStats(wav)
      assert(st != null)
      val lin = codes.map(dec)
      assert(st._1 == 300L)
      assert(st._2 == lin.map(math.abs).max)
      assert(st._3 == lin.map(a => a.toLong * a).sum)
    }
  }

  test("PCM sample decode: 16-bit sign, 8-bit bias, clipping, truncation") {
    import graft.functions.AudioHeaders
    // 16-bit: values crossing zero and both full-scale rails
    val samples = Seq[Int](0, 1, -1, 1000, -1000, 32767, -32768, 12345)
    val body = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      body(2 * i) = (s & 0xff).toByte; body(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val wav16 = AudioHeaders.buildWav(1, 16000, 16, body)
    val p16 = AudioHeaders.parsePcmStats(wav16)
    assert(p16 == ((samples.length.toLong, 32768,
      samples.map(s => s.toLong * s).sum, 2L)))
    // 8-bit: unsigned with bias 128; 0 and 255 are the rails
    val wav8 = AudioHeaders.buildWav(1, 8000, 8, Array[Byte](0, -1, 127, -128))
    // values 0,255,127,128 -> amplitudes -128,127,-1,0
    assert(AudioHeaders.parsePcmStats(wav8) ==
      ((4L, 128, 128L * 128 + 127L * 127 + 1, 2L)))
    // a data chunk declaring more than the buffer holds decodes what's there
    val cut = wav16.take(wav16.length - 4)
    val pCut = AudioHeaders.parsePcmStats(cut)
    assert(pCut._1 == samples.length - 2L)
    // 24-bit PCM needs real codec plumbing -> null, not garbage stats
    val wav24 = AudioHeaders.buildWav(1, 8000, 24, new Array[Byte](12))
    assert(AudioHeaders.parsePcmStats(wav24) == null)
    // header parse still reports the container even when stats decline
    assert(AudioHeaders.parseWav(wav24) == ("pcm", 1, 8000, 24, 500L))
  }

  test("image_header runs as a native expression with codegen fallback off") {
    LocalSpark.isolated(SparkSession.builder()
        .config("spark.sql.codegen.fallback", "false")
        // run in generated code in a task, not folded on the driver
        .config("spark.sql.optimizer.excludedRules",
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()) { strict =>
      import strict.implicits._
      val rows = Seq(
        (1L, ImageHeaders.buildPng(12, 34, "a".getBytes)),
        (2L, "not an image".getBytes))
      val out = strict.createDataset(rows).toDF("id", "media")
        .selectExpr("id", "image_header(media) AS ih")
        .selectExpr("id", "ih.format", "ih.width", "ih.height")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1))).toMap
      assert(out(1L) == "png")
      assert(out(2L) == null)
    }
  }
}
