package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free WARC reader (ISO 28500, the public web-archive format —
  * what an actual crawl corpus arrives in): records framed as a
  * `WARC/1.x` version line, CRLF header block, `Content-Length` bytes of
  * payload, and a CRLF CRLF trailer. Crawl archives ship as
  * CONCATENATED GZIP MEMBERS (one record per member, per the spec's
  * `.warc.gz` convention); `java.util.zip.GZIPInputStream` consumes
  * member-concatenated streams natively, so decompression needs no
  * codec library either. Surfacing (type, target URI, date, length,
  * payload digest) per record is the ingest front door of every
  * training-data pipeline — the reference's watched-directory sources
  * (S1–S3) would hand exactly these payloads to the chunker.
  *
  * Honesty rules: a stream that does not open with `WARC/` (after
  * optional gunzip), a record without a parseable `Content-Length`, or
  * framing that overruns the buffer routes the WHOLE parse to null —
  * record boundaries come only from declared lengths, so one corrupt
  * length poisons everything after it (route, don't guess). Header
  * names compare case-insensitively per the spec. */
object Warc {

  /** One parsed record plus its byte extent in the (uncompressed)
    * stream — `start` is where the `WARC/1.x` version line begins. */
  private[functions] final case class RawRec(
      recType: String, uri: String, date: String, len: Long,
      payload: Array[Byte], start: Int)

  /** One parsed record: (rec_type, target_uri | null, date | null,
    * content_length, payload bytes). */
  def parse(b: Array[Byte]): Array[(String, String, String, Long, Array[Byte])] = {
    if (b == null || b.length < 8) return null
    val raw =
      if ((b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b) gunzip(b)
      else b
    if (raw == null) return null
    val rs = parseRaw(raw)
    if (rs == null) null
    else rs.map(r => (r.recType, r.uri, r.date, r.len, r.payload))
  }

  private[functions] def parseRaw(raw: Array[Byte]): Array[RawRec] = {
    val out = new scala.collection.mutable.ArrayBuffer[RawRec]()
    var i = 0
    while (i < raw.length) {
      // tolerate inter-record CRLF padding
      while (i + 1 < raw.length && raw(i) == '\r' && raw(i + 1) == '\n') i += 2
      if (i >= raw.length) return out.toArray
      val recStart = i
      val vEnd = lineEnd(raw, i)
      if (vEnd < 0) return null
      val version = ascii(raw, i, vEnd)
      if (!version.startsWith("WARC/")) return null
      i = vEnd + 2
      var recType: String = null; var uri: String = null; var date: String = null
      var len = -1L
      var done = false
      while (!done) {
        val e = lineEnd(raw, i)
        if (e < 0) return null
        if (e == i) { done = true; i += 2 } // empty line ends headers
        else {
          val line = ascii(raw, i, e)
          val colon = line.indexOf(':')
          if (colon <= 0) return null
          val name = line.substring(0, colon).trim.toLowerCase
          val value = line.substring(colon + 1).trim
          name match {
            case "warc-type" => recType = value
            case "warc-target-uri" => uri = value
            case "warc-date" => date = value
            case "content-length" =>
              len = try value.toLong catch { case _: NumberFormatException => -1L }
            case _ => () // record-id, digests, … — tolerated, unused
          }
          i = e + 2
        }
      }
      if (recType == null || len < 0 || i + len > raw.length) return null
      val payload = java.util.Arrays.copyOfRange(raw, i, (i + len).toInt)
      out += RawRec(recType, uri, date, len, payload, recStart)
      i += len.toInt
    }
    out.toArray
  }

  private def lineEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      if (b(i) == '\n') return -1 // bare LF: not WARC framing
      i += 1
    }
    -1
  }

  private def ascii(b: Array[Byte], from: Int, to: Int): String =
    new String(b, from, to - from, java.nio.charset.StandardCharsets.US_ASCII)

  // bounded whole-payload gunzip shared with the TAR walker — one
  // implementation to keep the 256 MiB bound and the explicit
  // Inflater-release discipline (GC-relied native state measured 14× at
  // 10× docs) in a single place
  private def gunzip(b: Array[Byte]): Array[Byte] = Archives.gunzip(b)

  // ----------------------------------------------------------- CDX index

  /** CDX-style index of an archive: one `(rec_type, uri, date, offset,
    * length, payload_md5)` per record, where `[offset, offset+length)`
    * is the byte extent INSIDE THE STORED FILE that a later reader can
    * slice out and parse on its own — the whole point of a capture
    * index (build it once over 100 TB of archives; every later access
    * is a range request, never a re-scan). For a plain `.warc` that
    * extent runs from the record's version line to the start of the
    * next record (trailing CRLF padding included, which `parse`
    * tolerates); for a `.warc.gz` it is the COMPRESSED extent of the
    * record's gzip member, per the spec's record-per-member convention
    * — exactly what CDX files store so HTTP range requests work on
    * compressed archives. Same honesty rule as [[parse]]: any framing
    * the walk cannot prove routes the whole index to null. */
  def index(b: Array[Byte]): Array[(String, String, String, Long, Long, String)] = {
    if (b == null || b.length < 8) return null
    if ((b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b) indexGz(b)
    else {
      val rs = parseRaw(b)
      if (rs == null) return null
      rs.zipWithIndex.map { case (r, k) =>
        val end = if (k + 1 < rs.length) rs(k + 1).start else b.length
        (r.recType, r.uri, r.date, r.start.toLong, (end - r.start).toLong,
          md5hex(r.payload))
      }
    }
  }

  private def indexGz(b: Array[Byte]): Array[(String, String, String, Long, Long, String)] = {
    val out = new scala.collection.mutable.ArrayBuffer[(String, String, String, Long, Long, String)]()
    var off = 0
    while (off < b.length) {
      val m = inflateMember(b, off)
      if (m == null) return null
      val (end, bytes) = m
      val rs = parseRaw(bytes)
      if (rs == null) return null
      rs.foreach { r =>
        out += ((r.recType, r.uri, r.date, off.toLong, (end - off).toLong,
          md5hex(r.payload)))
      }
      off = end
    }
    out.toArray
  }

  /** One gzip member starting at `start`: returns (end offset of the
    * member — header + deflate stream + CRC32/ISIZE trailer — and its
    * decompressed bytes), or null on any framing violation. Manual
    * header walk (RFC 1952: FEXTRA/FNAME/FCOMMENT/FHCRC) + a raw
    * `Inflater(nowrap)` whose `getBytesRead` gives the compressed
    * length `GZIPInputStream` hides; `end()` releases the native state
    * immediately (the x159 lesson: leaked zlib handles turn per-row
    * decompression superlinear). */
  private def inflateMember(b: Array[Byte], start: Int): (Int, Array[Byte]) = {
    var i = start
    if (b.length - i < 18 || (b(i) & 0xff) != 0x1f || (b(i + 1) & 0xff) != 0x8b ||
      (b(i + 2) & 0xff) != 8) return null
    val flg = b(i + 3) & 0xff
    i += 10
    if ((flg & 4) != 0) {
      if (i + 2 > b.length) return null
      val xlen = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
      i += 2 + xlen
    }
    if ((flg & 8) != 0) { while (i < b.length && b(i) != 0) i += 1; i += 1 }
    if ((flg & 16) != 0) { while (i < b.length && b(i) != 0) i += 1; i += 1 }
    if ((flg & 2) != 0) i += 2
    if (i >= b.length) return null
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, i, b.length - i)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return null
        out.write(buf, 0, n)
        if (out.size() > (1 << 28)) return null
      }
      val end = i + inf.getBytesRead.toInt + 8 // CRC32 + ISIZE trailer
      if (end > b.length) return null
      (end, out.toByteArray)
    } catch { case _: java.util.zip.DataFormatException => null }
    finally inf.end()
  }

  private def md5hex(p: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(p)
    val sb = new java.lang.StringBuilder(32)
    d.foreach { x =>
      sb.append(Character.forDigit((x >> 4) & 0xf, 16))
      sb.append(Character.forDigit(x & 0xf, 16))
    }
    sb.toString
  }

  // ------------------------------------------------------------- builders

  /** Serialize records with spec framing. */
  def build(records: Seq[(String, String, String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for ((recType, uri, date, payload) <- records) {
      val sb = new StringBuilder
      sb.append("WARC/1.0\r\n")
      sb.append(s"WARC-Type: $recType\r\n")
      if (uri != null) sb.append(s"WARC-Target-URI: $uri\r\n")
      if (date != null) sb.append(s"WARC-Date: $date\r\n")
      sb.append(s"WARC-Record-ID: <urn:uuid:${recType.length}-${payload.length}>\r\n")
      sb.append(s"Content-Length: ${payload.length}\r\n\r\n")
      out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.write(payload, 0, payload.length)
      out.write('\r'); out.write('\n'); out.write('\r'); out.write('\n')
    }
    out.toByteArray
  }

  /** One gzip member per record — the `.warc.gz` convention. Each member
    * gets its own stream so close() can end the native Deflater (same
    * resource rule as [[gunzip]]). */
  def buildGz(records: Seq[(String, String, String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for (r <- records) {
      val member = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(member)
      val one = build(Seq(r))
      gz.write(one, 0, one.length)
      gz.close()
      member.writeTo(out)
    }
    out.toByteArray
  }
}

/** `warc_records(binary)` → `array<struct<rec_type string, uri string,
  * date string, content_length bigint, payload binary>>` for plain or
  * member-gzipped WARC streams; null when the framing does not parse
  * (see [[Warc]]). */
case class WarcRecords(child: Expression)
    extends BinaryCodecExpression("warc_records", WarcRecords.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val recs = Warc.parse(payload.asInstanceOf[Array[Byte]])
    if (recs == null) null
    else new GenericArrayData(recs.map(r => InternalRow(
      UTF8String.fromString(r._1), UTF8String.fromString(r._2),
      UTF8String.fromString(r._3), r._4, r._5): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): WarcRecords =
    copy(child = newChild)
}

object WarcRecords {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("rec_type", StringType),
    StructField("uri", StringType),
    StructField("date", StringType),
    StructField("content_length", LongType),
    StructField("payload", BinaryType))), containsNull = false)

  def warcRecords(media: Column): Column =
    GraftColumnShim.column(WarcRecords(GraftColumnShim.expression(media)))
}

/** `warc_index(binary)` → `array<struct<rec_type string, uri string,
  * date string, offset bigint, length bigint, payload_md5 string>>` —
  * the CDX-style capture index of a plain or member-gzipped WARC (see
  * [[Warc.index]]); null when the framing does not parse. Offsets are
  * into the STORED bytes (compressed-member extents for `.warc.gz`),
  * so `substring(media, offset+1, length)` is independently parseable. */
case class WarcIndex(child: Expression)
    extends BinaryCodecExpression("warc_index", WarcIndex.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val recs = Warc.index(payload.asInstanceOf[Array[Byte]])
    if (recs == null) null
    else new GenericArrayData(recs.map(r => InternalRow(
      UTF8String.fromString(r._1), UTF8String.fromString(r._2),
      UTF8String.fromString(r._3), r._4, r._5,
      UTF8String.fromString(r._6)): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): WarcIndex =
    copy(child = newChild)
}

object WarcIndex {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("rec_type", StringType),
    StructField("uri", StringType),
    StructField("date", StringType),
    StructField("offset", LongType),
    StructField("length", LongType),
    StructField("payload_md5", StringType))), containsNull = false)

  def warcIndex(media: Column): Column =
    GraftColumnShim.column(WarcIndex(GraftColumnShim.expression(media)))
}
