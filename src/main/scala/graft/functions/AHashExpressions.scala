package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** Perceptual average-hash (aHash) — the image-side near-dup key, the
  * multimodal twin of the text pipeline's MinHash/SimHash signatures
  * (x02/x03). The hash is container-independent: it is defined on the
  * DECODED luma plane, so a JPEG and a BMP of the same picture land the
  * same 64-bit key, and a banded equi-join over the key gives an
  * LSH-shaped candidate space with no all-pairs stage (Σbucket², same
  * scaling argument as the text near-dup family).
  *
  * Definition (integer-exact, oracle-reproducible):
  *   1. decode to luma: gray plane directly, or (77r + 150g + 29b) >> 8;
  *   2. 8×8 grid of box cells — pixel (x, y) belongs to cell
  *      (x·8/w, y·8/h) (truncating), cell value = floor(mean(luma));
  *   3. mean = floor(mean of the 64 cell values);
  *   4. bit k (k = cy·8 + cx) set iff cell_k > mean.
  *
  * Decode dispatch: baseline/progressive JPEG via [[JpegCodec.decodeJpeg]]
  * and uncompressed 24-bit BMP here; other containers route to null
  * (PNG/GIF expose stats, not planes — extend by adding a plane-returning
  * decode, not by guessing). */
object AHash {

  def ahash(b: Array[Byte]): java.lang.Long = {
    if (b == null) return null
    if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      val d = JpegCodec.decodeJpeg(b)
      if (d == null) return null
      val (w, h, ch, px) = d
      return fromLuma(w, h, (x, y) => {
        val p = y * w + x
        if (ch == 1) px(p)
        else (77 * px(3 * p) + 150 * px(3 * p + 1) + 29 * px(3 * p + 2)) >> 8
      })
    }
    if (b.length >= 54 && b(0) == 'B' && b(1) == 'M') {
      // uncompressed 24-bit BI_RGB only, same envelope as parseBmpPixels
      def le16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
      def le32(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
        ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
      if (le32(14) < 40 || le16(28) != 24 || le32(30) != 0) return null
      val off = le32(10)
      val w = le32(18); val rawH = le32(22)
      val topDown = rawH < 0; val h = math.abs(rawH)
      if (w <= 0 || h <= 0 || off < 54) return null
      val stride = (w.toLong * 3 + 3) & ~3L
      if (stride > Int.MaxValue || off.toLong + stride * h > b.length) return null
      return fromLuma(w, h, (x, y) => {
        val sy = if (topDown) y else h - 1 - y
        val base = off + sy * stride.toInt + x * 3
        val bl = b(base) & 0xff; val g = b(base + 1) & 0xff
        val r = b(base + 2) & 0xff
        (77 * r + 150 * g + 29 * bl) >> 8
      })
    }
    null
  }

  private def fromLuma(w: Int, h: Int, luma: (Int, Int) => Int): java.lang.Long = {
    if (w < 8 || h < 8) return null
    val sum = new Array[Long](64)
    val cnt = new Array[Long](64)
    var y = 0
    while (y < h) {
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val c = cy * 8 + x * 8 / w
        sum(c) += luma(x, y); cnt(c) += 1
        x += 1
      }
      y += 1
    }
    var total = 0L
    val cell = new Array[Long](64)
    var k = 0
    while (k < 64) { cell(k) = sum(k) / cnt(k); total += cell(k); k += 1 }
    val mean = total / 64
    var hash = 0L
    k = 0
    while (k < 64) { if (cell(k) > mean) hash |= 1L << k; k += 1 }
    java.lang.Long.valueOf(hash)
  }
}

/** `image_ahash(binary)` → BIGINT perceptual hash (see [[AHash]]); null
  * for undecodable payloads. Codegen'd like the other media
  * expressions. */
case class ImageAHash(child: Expression) extends BinaryCodecExpression("image_ahash", LongType) {
  override def nullSafeEval(payload: Any): Any =
    AHash.ahash(payload.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): ImageAHash =
    copy(child = newChild)
}

object ImageAHash {
  def imageAhash(media: Column): Column =
    GraftColumnShim.column(ImageAHash(GraftColumnShim.expression(media)))
}
