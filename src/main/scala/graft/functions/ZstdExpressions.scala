package graft.functions

import scala.util.control.NonFatal

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Zstandard (RFC 8878) member decode over the `zstd-jni` binding
  * Spark itself ships (it is Spark's own shuffle/event-log codec — a
  * public dependency already on every executor classpath, so unlike
  * bzip2/LZMA there is nothing to build from scratch). Modern crawl
  * and corpus distributions increasingly ship `.zst`/`.warc.zst`/
  * `.tar.zst`; this wires them into the same member chain as
  * .gz/.bz2.
  *
  * Decode semantics mirror [[Bzip2.decode]]: null on anything broken
  * (bad magic, truncated frame, checksum), multi-FRAME concatenations
  * decode whole (the streaming reader continues into following
  * frames, like multistream bzip2), and output is bounded at 256 MiB
  * — the per-row zip-bomb guard; an over-bound inflate null-routes
  * like corruption. */
object Zstandard {

  /** RFC 8878 §3.1.1 frame magic, little-endian on the wire. */
  private def hasMagic(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 0x28.toByte && b(1) == 0xB5.toByte &&
      b(2) == 0x2F.toByte && b(3) == 0xFD.toByte

  /** Admission accepts a data frame OR a skippable frame (§3.1.2) at
    * offset 0: real `.warc.zst` conventionally leads with a skippable
    * dictionary frame, and zstd's own streaming decoder walks over
    * skippables wherever they sit — so must the whole-payload path,
    * matching [[frameExtents]]' admission. */
  def decode(b: Array[Byte]): Array[Byte] = decodeImpl(b, null)

  /** Dictionary-compressed decode — the IIPC `.warc.zst` record
    * frames reference the dictionary carried in the dump's leading
    * skippable frame ([[leadingDictionary]]). Same bound and
    * null-on-break contract as [[decode]]; a frame compressed against
    * a DIFFERENT dictionary (id mismatch) null-routes. */
  def decodeWithDict(b: Array[Byte], dict: Array[Byte]): Array[Byte] =
    if (dict == null) null else decodeImpl(b, dict)

  /** Digested-dictionary caches: a zstd dictionary must be DIGESTED
    * (entropy tables built) before use, and doing that per record is
    * the constant-factor tax the per-row expressions would otherwise
    * pay — `ZSTD_DDict`/`ZSTD_CDict` exist precisely to amortize it,
    * and both are immutable + thread-safe to share. Keyed by dict
    * CONTENT (a corpus ships one dictionary; a job sees a handful), and
    * never evicted — eviction would race in-flight native use; instead
    * a full cache falls back to the raw-bytes per-call digest, which is
    * merely slower, never wrong. */
  private final class DictKey(val bytes: Array[Byte]) {
    override val hashCode: Int = java.util.Arrays.hashCode(bytes)
    override def equals(o: Any): Boolean = o match {
      case k: DictKey => java.util.Arrays.equals(bytes, k.bytes)
      case _ => false
    }
  }
  private val dDicts = new java.util.concurrent.ConcurrentHashMap[
    DictKey, com.github.luben.zstd.ZstdDictDecompress]()
  private val cDicts = new java.util.concurrent.ConcurrentHashMap[
    DictKey, com.github.luben.zstd.ZstdDictCompress]()
  private val MaxCachedDicts = 256

  private def decodeImpl(b: Array[Byte], dict: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 4 || !(hasMagic(b) || skipMagicAt(b, 0)))
      return null
    try {
      val in = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
        new java.io.ByteArrayInputStream(b))
      if (dict != null) {
        val k = new DictKey(dict)
        val d =
          if (dDicts.size >= MaxCachedDicts && !dDicts.containsKey(k)) null
          else dDicts.computeIfAbsent(k,
            kk => new com.github.luben.zstd.ZstdDictDecompress(kk.bytes))
        if (d != null) in.setDict(d) else in.setDict(dict)
      }
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n > 0) {
          out.write(buf, 0, n)
          if (out.size() > (1 << 28)) return null // bound hostile streams
          n = in.read(buf)
        }
        out.toByteArray
      } finally in.close()
    } catch { case NonFatal(_) => null }
  }

  /** The IIPC `.warc.zst` DICTIONARY frame: the dump leads with a
    * skippable frame whose magic is pinned to 0x184D2A5D (the `D`
    * nibble marks "dictionary" — iipc/warc-specifications) and whose
    * content is the zstd dictionary the record frames were compressed
    * against; the spec allows the dictionary itself to ship
    * zstd-compressed, decoded transparently here. Null when the
    * payload does not lead with a dictionary frame (a plain skippable
    * lead is NOT a dictionary). */
  def leadingDictionary(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 8 || !skipMagicAt(b, 0)) return null
    if ((b(0) & 0x0F) != 0x0D) return null
    val n = (b(4) & 0xFF) | ((b(5) & 0xFF) << 8) | ((b(6) & 0xFF) << 16) |
      ((b(7) & 0xFF) << 24)
    if (n <= 0 || 8L + n > b.length) return null
    val payload = java.util.Arrays.copyOfRange(b, 8, 8 + n)
    if (dataMagicAt(payload, 0)) decode(payload) else payload
  }

  /** Fixture/sink-side dictionary-referencing encoder (checksum on,
    * matching [[encode]]). */
  def encodeWithDict(b: Array[Byte], dict: Array[Byte]): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      ctx.setChecksum(true)
      val k = new DictKey(dict)
      val d =
        if (cDicts.size >= MaxCachedDicts && !cDicts.containsKey(k)) null
        else cDicts.computeIfAbsent(k,
          kk => new com.github.luben.zstd.ZstdDictCompress(kk.bytes,
            com.github.luben.zstd.Zstd.defaultCompressionLevel()))
      if (d != null) ctx.loadDict(d) else ctx.loadDict(dict)
      ctx.compress(b)
    } finally ctx.close()
  }

  /** Train a zstd dictionary (zstd's COVER trainer via zstd-jni) from
    * sample payloads — the sink-side half of the IIPC dictionary
    * convention. Throws ZstdException when the samples are too few or
    * too uniform to train from (zstd's own admission); callers decide
    * whether to fall back to dictionary-less frames. */
  def trainDictionary(samples: Seq[Array[Byte]], dictBytes: Int): Array[Byte] = {
    val t = new com.github.luben.zstd.ZstdDictTrainer(
      samples.map(_.length).sum, dictBytes)
    samples.foreach(t.addSample)
    t.trainSamples()
  }

  /** Fixture-side encoder (one frame, default level, content checksum
    * on so flip arms actually trip). */
  def encode(b: Array[Byte]): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      ctx.setChecksum(true)
      ctx.compress(b)
    } finally ctx.close()
  }

  private def dataMagicAt(b: Array[Byte], i: Int): Boolean =
    i + 4 <= b.length && b(i) == 0x28.toByte && b(i + 1) == 0xB5.toByte &&
      b(i + 2) == 0x2F.toByte && b(i + 3) == 0xFD.toByte

  private def skipMagicAt(b: Array[Byte], i: Int): Boolean =
    i + 4 <= b.length && (b(i) & 0xF0) == 0x50 &&
      b(i + 1) == 0x2A.toByte && b(i + 2) == 0x4D.toByte &&
      b(i + 3) == 0x18.toByte

  /** Byte extents of the DATA frames in a multi-frame .zst (the
    * [[Bzip2.streamOffsets]] twin): zstd frame boundaries cannot be
    * found by magic scan (the magic can occur inside payload), so the
    * walk is SEQUENTIAL over frame headers via zstd's own
    * findFrameCompressedSize — still O(headers), no decompression.
    * Skippable frames (the .warc.zst dictionary convention) are
    * walked over and not emitted. A torn TAIL becomes one final
    * extent that will fail its decode and quarantine, so intact
    * leading frames keep serving — the damage-localization posture of
    * the bzip2 extents. Null when the payload does not start with a
    * frame at all. */
  def frameExtents(b: Array[Byte]): Array[(Long, Long)] = {
    if (b == null || b.length < 4) return null
    if (!dataMagicAt(b, 0) && !skipMagicAt(b, 0)) return null
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var off = 0
    var torn = false
    while (off < b.length && !torn) {
      val isData = dataMagicAt(b, off)
      val isSkip = skipMagicAt(b, off)
      val sz =
        if (!isData && !isSkip) -1L
        else
          try com.github.luben.zstd.Zstd
            .findFrameCompressedSize(b, off, b.length - off)
          catch { case NonFatal(_) => -1L }
      if (sz <= 0 || off + sz > b.length) {
        // torn or unwalkable tail: surface it as one failing extent
        out += ((off.toLong, (b.length - off).toLong))
        torn = true
      } else {
        if (isData) out += ((off.toLong, sz))
        off += sz.toInt
      }
    }
    out.toArray
  }
}

/** `zstd_bytes(binary)` → decompressed bytes; null when the payload is
  * not zstd or any frame fails (see [[Zstandard.decode]]). */
case class ZstdBytes(child: Expression) extends BinaryCodecExpression("zstd_bytes", BinaryType) {
  override def nullSafeEval(payload: Any): Any =
    Zstandard.decode(payload.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): ZstdBytes =
    copy(child = newChild)
}

object ZstdBytes {
  def zstdBytes(media: Column): Column =
    GraftColumnShim.column(ZstdBytes(GraftColumnShim.expression(media)))
}

/** `zstd_dict(binary)` → the dictionary carried in a leading
  * 0x184D2A5D skippable frame (see [[Zstandard.leadingDictionary]]);
  * null when the payload has no dictionary frame. */
case class ZstdDictExpr(child: Expression) extends BinaryCodecExpression("zstd_dict", BinaryType) {
  override def nullSafeEval(payload: Any): Any =
    Zstandard.leadingDictionary(payload.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): ZstdDictExpr =
    copy(child = newChild)
}

object ZstdDictExpr {
  def zstdDict(media: Column): Column =
    GraftColumnShim.column(ZstdDictExpr(GraftColumnShim.expression(media)))
}

/** `zstd_bytes_dict(binary, binary)` → dictionary-referencing frame
  * decode (see [[Zstandard.decodeWithDict]]); null when either side is
  * null, the frame breaks, or it was compressed against a different
  * dictionary. */
case class ZstdBytesDict(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"zstd_bytes_dict expects (binary, binary), got $other")
    }

  override def nullSafeEval(frame: Any, dict: Any): Any =
    Zstandard.decodeWithDict(
      frame.asInstanceOf[Array[Byte]], dict.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("zstdBytesDict", this,
      classOf[ZstdBytesDict].getName)
    val r = ctx.freshName("zbd")
    nullSafeCodeGen(ctx, ev, (f, d) => {
      s"""
         |Object $r = $self.nullSafeEval($f, $d);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (byte[]) $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZstdBytesDict =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "zstd_bytes_dict"
}

object ZstdBytesDict {
  def zstdBytesDict(frame: Column, dict: Column): Column =
    GraftColumnShim.column(ZstdBytesDict(
      GraftColumnShim.expression(frame), GraftColumnShim.expression(dict)))
}

/** `zstd_extents(binary)` → `array<struct<off bigint, len bigint>>` —
  * data-frame extents of a multi-frame .zst (see
  * [[Zstandard.frameExtents]]); null when not zstd at all. */
case class ZstdExtents(child: Expression)
    extends BinaryCodecExpression("zstd_extents", ZstdExtents.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val exts = Zstandard.frameExtents(payload.asInstanceOf[Array[Byte]])
    if (exts == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      exts.map(e =>
        org.apache.spark.sql.catalyst.InternalRow(e._1, e._2): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): ZstdExtents =
    copy(child = newChild)
}

object ZstdExtents {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("off", LongType),
    StructField("len", LongType))), containsNull = false)

  def zstdExtents(media: Column): Column =
    GraftColumnShim.column(ZstdExtents(GraftColumnShim.expression(media)))
}
