package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Library-free MPEG transport stream walk (ISO/IEC 13818-1, the public
  * broadcast/HLS container) — the remaining big crawl video container
  * after ISO-BMFF (x133) and Matroska/WebM (x144). A TS is a train of
  * fixed 188-byte packets; triage means walking the train, reading the
  * PAT (PID 0) to find the PMT, reading the PMT to map elementary PIDs
  * to stream types, and accounting per-PID packet/PUSI/continuity
  * statistics — no codec work, pure container syntax.
  *
  * Honesty rules, same posture as the Ogg page walk (x140): PSI
  * sections are trusted ONLY after their CRC_32/MPEG checksum verifies
  * (poly 0x04C11DB7, init 0xFFFFFFFF, no reflection/final-xor), a
  * broken sync byte routes the whole parse to null (a desynced train
  * cannot be attributed), and multi-packet PSI sections are out of
  * scope — an unverifiable PMT simply leaves stream_type null rather
  * than guessing. */
object MpegTs {

  final val PacketSize = 188

  private def u(b: Array[Byte], i: Int): Int = b(i) & 0xff

  private val CrcTable: Array[Int] = Array.tabulate(256) { n =>
    var c = n << 24
    var k = 0
    while (k < 8) {
      c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04c11db7 else c << 1
      k += 1
    }
    c
  }

  /** CRC_32/MPEG over [from, from+len). */
  private[functions] def crc32(b: Array[Byte], from: Int, len: Int): Int = {
    var crc = 0xffffffff
    var i = from
    val end = from + len
    while (i < end) {
      crc = (crc << 8) ^ CrcTable(((crc >>> 24) ^ u(b, i)) & 0xff)
      i += 1
    }
    crc
  }

  /** Per-PID stats: (pid, stream_type | null, packets, payload_starts,
    * cc_errors), ascending by pid. Null when the payload is not a
    * parseable TS (no packets, bad sync anywhere, or trailing bytes that
    * are not a whole packet). */
  def parse(b: Array[Byte]): Array[(Int, java.lang.Integer, Long, Long, Long)] = {
    if (b == null || b.length < PacketSize || b.length % PacketSize != 0)
      return null
    val n = b.length / PacketSize
    // pass 1: sync check + PAT/PMT section parse for the type map
    var pmtPid = -1
    var i = 0
    while (i < n) {
      if (u(b, i * PacketSize) != 0x47) return null
      i += 1
    }
    val typeOf = new java.util.HashMap[Integer, Integer]()
    def payloadStart(off: Int): Int = {
      val afc = (u(b, off + 3) >> 4) & 3
      if ((afc & 1) == 0) return -1 // no payload
      if ((afc & 2) != 0) {
        val al = u(b, off + 4)
        if (5 + al >= PacketSize) return -1
        off + 5 + al
      } else off + 4
    }
    /** Verified PSI section start (after pointer_field), or -1. */
    def sectionAt(off: Int): Int = {
      val p = payloadStart(off)
      if (p < 0) return -1
      val ptr = u(b, p)
      val s = p + 1 + ptr
      if (s + 3 > off + PacketSize) return -1
      val secLen = ((u(b, s + 1) & 0x0f) << 8) | u(b, s + 2)
      if (s + 3 + secLen > off + PacketSize || secLen < 9) return -1
      if (crc32(b, s, 3 + secLen) != 0) return -1 // CRC spans its own field
      s
    }
    i = 0
    while (i < n && pmtPid < 0) {
      val off = i * PacketSize
      val pid = ((u(b, off + 1) & 0x1f) << 8) | u(b, off + 2)
      if (pid == 0 && (u(b, off + 1) & 0x40) != 0) {
        val s = sectionAt(off)
        if (s >= 0 && u(b, s) == 0x00) {
          val secLen = ((u(b, s + 1) & 0x0f) << 8) | u(b, s + 2)
          // entries: [s+8, s+3+secLen-4), 4 bytes each
          var e = s + 8
          val end = s + 3 + secLen - 4
          while (e + 4 <= end) {
            val prog = (u(b, e) << 8) | u(b, e + 1)
            val pp = ((u(b, e + 2) & 0x1f) << 8) | u(b, e + 3)
            if (prog != 0 && pmtPid < 0) pmtPid = pp // first program; NIT has prog 0
            e += 4
          }
        }
      }
      i += 1
    }
    if (pmtPid >= 0) {
      i = 0
      var found = false
      while (i < n && !found) {
        val off = i * PacketSize
        val pid = ((u(b, off + 1) & 0x1f) << 8) | u(b, off + 2)
        if (pid == pmtPid && (u(b, off + 1) & 0x40) != 0) {
          val s = sectionAt(off)
          if (s >= 0 && u(b, s) == 0x02) {
            found = true
            val secLen = ((u(b, s + 1) & 0x0f) << 8) | u(b, s + 2)
            val piLen = ((u(b, s + 10) & 0x0f) << 8) | u(b, s + 11)
            var e = s + 12 + piLen
            val end = s + 3 + secLen - 4
            while (e + 5 <= end) {
              val st = u(b, e)
              val epid = ((u(b, e + 1) & 0x1f) << 8) | u(b, e + 2)
              val esLen = ((u(b, e + 3) & 0x0f) << 8) | u(b, e + 4)
              typeOf.put(epid, st)
              e += 5 + esLen
            }
          }
        }
        i += 1
      }
    }
    // pass 2: per-PID stats
    val packets = new java.util.TreeMap[Integer, Array[Long]]()
    val lastCc = new java.util.HashMap[Integer, Integer]()
    i = 0
    while (i < n) {
      val off = i * PacketSize
      val h1 = u(b, off + 1)
      val pid = ((h1 & 0x1f) << 8) | u(b, off + 2)
      val pusi = (h1 & 0x40) != 0
      val afc = (u(b, off + 3) >> 4) & 3
      val cc = u(b, off + 3) & 0x0f
      val st = packets.computeIfAbsent(pid, _ => new Array[Long](3))
      st(0) += 1
      if (pusi) st(1) += 1
      if ((afc & 1) != 0) { // CC increments only on payload-bearing packets
        // ISO 13818-1 §2.4.3.3 permits ONE duplicate transmission of a
        // packet (same CC): the first repeat is tolerated, a second
        // consecutive repeat is a continuity error. State encodes
        // cc | 0x100 once the duplicate allowance is spent.
        val prev = lastCc.get(pid)
        if (prev != null) {
          val pcc = prev & 0x0f
          if (((pcc + 1) & 0x0f) == cc) lastCc.put(pid, cc) // normal advance
          else if (pcc == cc && (prev & 0x100) == 0)
            lastCc.put(pid, cc | 0x100)                     // tolerated dup
          else { st(2) += 1; lastCc.put(pid, cc) }          // gap or 2nd dup
        } else lastCc.put(pid, cc)
      }
      i += 1
    }
    val out = new Array[(Int, java.lang.Integer, Long, Long, Long)](packets.size)
    val it = packets.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = (e.getKey.intValue(), typeOf.get(e.getKey),
        e.getValue()(0), e.getValue()(1), e.getValue()(2))
      k += 1
    }
    out
  }

  /** PES demux: per-PID elementary-stream reassembly. A unit starts at a
    * payload_unit_start packet whose payload leads with the PES start
    * code 00 00 01; continuation packets of an activated PID append
    * their whole payload. PSI payloads can never false-activate (their
    * pointer_field + table_id bytes are not a start code). Returns
    * (pid, n_units, first_pts | null, last_pts | null, es bytes)
    * ascending by PID, only for PIDs that carried at least one unit;
    * null for non-TS payloads (same envelope as [[parse]]). PTS is the
    * 33-bit 90 kHz clock from the optional PES header, decoded only
    * when PTS_DTS_flags advertise it. */
  def parsePes(b: Array[Byte]): Array[(Int, Int, java.lang.Long, java.lang.Long, Array[Byte])] = {
    if (b == null || b.length < PacketSize || b.length % PacketSize != 0)
      return null
    val n = b.length / PacketSize
    var i = 0
    while (i < n) {
      if (u(b, i * PacketSize) != 0x47) return null
      i += 1
    }
    final class Acc {
      var units = 0
      var firstPts: java.lang.Long = null
      var lastPts: java.lang.Long = null
      val es = new java.io.ByteArrayOutputStream()
      var active = false
    }
    val accs = new java.util.TreeMap[Integer, Acc]()
    def payloadStart(off: Int): Int = {
      val afc = (u(b, off + 3) >> 4) & 3
      if ((afc & 1) == 0) return -1
      if ((afc & 2) != 0) {
        val al = u(b, off + 4)
        if (5 + al >= PacketSize) return -1
        off + 5 + al
      } else off + 4
    }
    i = 0
    while (i < n) {
      val off = i * PacketSize
      val h1 = u(b, off + 1)
      val pid = ((h1 & 0x1f) << 8) | u(b, off + 2)
      val pusi = (h1 & 0x40) != 0
      val p = payloadStart(off)
      if (p >= 0) {
        val end = off + PacketSize
        if (pusi && p + 9 <= end && u(b, p) == 0 && u(b, p + 1) == 0 &&
            u(b, p + 2) == 1) {
          val acc = accs.computeIfAbsent(pid, _ => new Acc)
          acc.active = true
          acc.units += 1
          val flags = u(b, p + 7)
          val hdl = u(b, p + 8)
          var esAt = p + 9 + hdl
          if ((flags >> 6) >= 2 && p + 14 <= end && hdl >= 5) {
            val pts = ((u(b, p + 9) >> 1) & 7).toLong << 30 |
              u(b, p + 10).toLong << 22 |
              ((u(b, p + 11) >> 1) & 0x7f).toLong << 15 |
              u(b, p + 12).toLong << 7 |
              ((u(b, p + 13) >> 1) & 0x7f).toLong
            if (acc.firstPts == null) acc.firstPts = pts
            acc.lastPts = pts
          }
          if (esAt < end) acc.es.write(b, esAt, end - esAt)
        } else if (!pusi) {
          val acc = accs.get(pid)
          if (acc != null && acc.active) acc.es.write(b, p, end - p)
        }
      }
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Int, Int, java.lang.Long, java.lang.Long, Array[Byte])]()
    val it = accs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.units > 0)
        out += ((e.getKey.intValue(), e.getValue.units, e.getValue.firstPts,
          e.getValue.lastPts, e.getValue.es.toByteArray))
    }
    out.toArray
  }

  // ------------------------------------------------------------- builders

  /** One 188-byte packet; payload is truncated/stuffed (0xff) to fit. */
  def packet(pid: Int, pusi: Boolean, cc: Int,
      payload: Array[Byte]): Array[Byte] = {
    require(pid >= 0 && pid <= 0x1fff && cc >= 0 && cc <= 15)
    require(payload.length <= PacketSize - 4, "payload must fit one packet")
    val out = new Array[Byte](PacketSize)
    out(0) = 0x47
    out(1) = (((if (pusi) 0x40 else 0)) | (pid >> 8)).toByte
    out(2) = (pid & 0xff).toByte
    out(3) = (0x10 | cc).toByte // no adaptation, payload present
    System.arraycopy(payload, 0, out, 4, payload.length)
    java.util.Arrays.fill(out, 4 + payload.length, PacketSize, 0xff.toByte)
    out
  }

  /** A PSI section packet: pointer_field 0, table_id + body, CRC_32
    * appended (section_length covers body + 5 fixed bytes + CRC). */
  def psiPacket(pid: Int, cc: Int, tableId: Int, idExt: Int,
      body: Array[Byte]): Array[Byte] = {
    val secLen = 5 + body.length + 4
    val sec = new java.io.ByteArrayOutputStream()
    sec.write(tableId)
    sec.write(0xb0 | (secLen >> 8)); sec.write(secLen & 0xff)
    sec.write(idExt >> 8); sec.write(idExt & 0xff)
    sec.write(0xc1) // version 0, current_next 1
    sec.write(0); sec.write(0) // section 0 of 0
    sec.write(body, 0, body.length)
    val noCrc = sec.toByteArray
    val crc = crc32(noCrc, 0, noCrc.length)
    val full = noCrc ++ Array((crc >> 24).toByte, (crc >> 16).toByte,
      (crc >> 8).toByte, crc.toByte)
    packet(pid, pusi = true, cc, 0.toByte +: full) // leading pointer_field
  }

  /** One PES packet (start code, stream id, 33-bit PTS header) ready for
    * [[pesPackets]]. */
  def pesBytes(streamId: Int, pts: Long, payload: Array[Byte]): Array[Byte] = {
    require(pts >= 0 && pts < (1L << 33))
    val pesLen = 3 + 5 + payload.length
    require(pesLen <= 0xffff, "bounded PES only in the builder")
    Array[Byte](0, 0, 1, streamId.toByte,
      (pesLen >> 8).toByte, (pesLen & 0xff).toByte,
      0x80.toByte, 0x80.toByte, 5, // '10' flags, PTS only, header length 5
      (0x20 | (((pts >> 30) & 7) << 1) | 1).toByte,
      ((pts >> 22) & 0xff).toByte,
      ((((pts >> 15) & 0x7f) << 1) | 1).toByte,
      ((pts >> 7) & 0xff).toByte,
      (((pts & 0x7f) << 1) | 1).toByte) ++ payload
  }

  /** Packetize one PES unit: PUSI on the first packet, continuation
    * packets after, the final short packet padded with ADAPTATION-FIELD
    * stuffing (never payload fill — every payload byte must be real ES,
    * exactly what the demuxer relies on). Returns the packets and the
    * next continuity counter for the PID. */
  def pesPackets(pid: Int, ccStart: Int, pes: Array[Byte]): (Array[Byte], Int) = {
    val out = new java.io.ByteArrayOutputStream()
    var at = 0
    var cc = ccStart
    var first = true
    while (at < pes.length) {
      val take = math.min(PacketSize - 4, pes.length - at)
      val pkt = new Array[Byte](PacketSize)
      pkt(0) = 0x47
      pkt(1) = (((if (first) 0x40 else 0)) | (pid >> 8)).toByte
      pkt(2) = (pid & 0xff).toByte
      if (take == PacketSize - 4) {
        pkt(3) = (0x10 | (cc & 15)).toByte // payload only
        System.arraycopy(pes, at, pkt, 4, take)
      } else {
        pkt(3) = (0x30 | (cc & 15)).toByte // adaptation + payload
        val afLen = PacketSize - 4 - take - 1 // stuffing fills the gap
        pkt(4) = afLen.toByte
        if (afLen > 0) {
          pkt(5) = 0 // no AF flags
          java.util.Arrays.fill(pkt, 6, 6 + (afLen - 1), 0xff.toByte)
        }
        System.arraycopy(pes, at, pkt, PacketSize - take, take)
      }
      out.write(pkt)
      at += take
      cc = (cc + 1) & 15
      first = false
    }
    (out.toByteArray, cc)
  }

  /** PAT mapping one program to `pmtPid`. */
  def patPacket(progNum: Int, pmtPid: Int, cc: Int = 0): Array[Byte] =
    psiPacket(0, cc, 0x00, 1, Array(
      (progNum >> 8).toByte, (progNum & 0xff).toByte,
      (0xe0 | (pmtPid >> 8)).toByte, (pmtPid & 0xff).toByte))

  /** PMT mapping (streamType, pid) pairs; PCR on the first stream PID. */
  def pmtPacket(pmtPid: Int, progNum: Int,
      streams: Seq[(Int, Int)], cc: Int = 0): Array[Byte] = {
    val pcrPid = if (streams.isEmpty) 0x1fff else streams.head._2
    val body = Array((0xe0 | (pcrPid >> 8)).toByte, (pcrPid & 0xff).toByte,
      0xf0.toByte, 0.toByte) ++ // program_info_length 0
      streams.flatMap { case (st, pid) => Seq(st.toByte,
        (0xe0 | (pid >> 8)).toByte, (pid & 0xff).toByte,
        0xf0.toByte, 0.toByte) } // es_info_length 0
    psiPacket(pmtPid, cc, 0x02, progNum, body)
  }
}

/** `ts_packets(binary)` → `array<struct<pid int, stream_type int,
  * packets bigint, payload_starts bigint, cc_errors bigint>>` ascending
  * by PID — per-PID accounting with stream types resolved through the
  * CRC-verified PAT→PMT chain; null for non-TS payloads. */
case class TsPackets(child: Expression)
    extends BinaryCodecExpression("ts_packets", TsPackets.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val rows = MpegTs.parse(payload.asInstanceOf[Array[Byte]])
    if (rows == null) null
    else new GenericArrayData(rows.map(r =>
      InternalRow(r._1, r._2, r._3, r._4, r._5): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): TsPackets =
    copy(child = newChild)
}

object TsPackets {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("pid", IntegerType),
    StructField("stream_type", IntegerType),
    StructField("packets", LongType),
    StructField("payload_starts", LongType),
    StructField("cc_errors", LongType))), containsNull = false)

  def tsPackets(media: Column): Column =
    GraftColumnShim.column(TsPackets(GraftColumnShim.expression(media)))
}

/** `ts_pes(binary)` → `array<struct<pid int, n_units int,
  * first_pts bigint, last_pts bigint, es binary>>` — per-PID PES demux
  * ([[MpegTs.parsePes]]): reassembled elementary-stream bytes plus the
  * 90 kHz PTS envelope; null for non-TS payloads. The TS twin of
  * `video_samples`' ISO-BMFF payload slicing (x135). */
case class TsPes(child: Expression) extends BinaryCodecExpression("ts_pes", TsPes.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val rows = MpegTs.parsePes(payload.asInstanceOf[Array[Byte]])
    if (rows == null) null
    else new GenericArrayData(rows.map(r =>
      InternalRow(r._1, r._2, r._3, r._4, r._5): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): TsPes =
    copy(child = newChild)
}

object TsPes {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("pid", IntegerType),
    StructField("n_units", IntegerType),
    StructField("first_pts", LongType),
    StructField("last_pts", LongType),
    StructField("es", BinaryType))), containsNull = false)

  def tsPes(media: Column): Column =
    GraftColumnShim.column(TsPes(GraftColumnShim.expression(media)))
}
