package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free archive walks for the two bundle formats a crawl corpus
  * actually ships in besides WARC: ZIP (APPNOTE.TXT, the public PKWARE
  * spec) and POSIX ustar TAR. Both are pure container syntax plus, for
  * deflated ZIP entries, the JDK's raw `Inflater` — no codec library.
  *
  * ZIP truth lives in the CENTRAL directory (found via the
  * end-of-central-directory record scanned from the tail), never by
  * scanning for local headers — self-extracting archives and embedded
  * zips make local-header scans false-sync. Every entry's payload is
  * decompressed and checked against the recorded CRC-32 and size;
  * mismatches surface as `crc_ok = false` with a null payload (route,
  * don't hand wrong bytes downstream). TAR headers carry their own
  * checksum (byte sum with the checksum field blanked); a failed
  * header checksum ends the walk, and the canonical two zero blocks
  * terminate it. */
object Archives {

  private def u(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u(b, i) | (u(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (u(b, i) | (u(b, i + 1) << 8) | (u(b, i + 2) << 16) |
      (u(b, i + 3).toLong << 24)) & 0xffffffffL
  private def le64(b: Array[Byte], i: Int): Long =
    le32(b, i) | (le32(b, i + 4) << 32)

  /** ZIP entries via EOCD → central directory:
    * (name, method, usize, crc_ok, payload | null). Null for payloads
    * with no parseable EOCD/central directory. Never throws — a walk
    * that trips any unanticipated bounds case routes to null (the same
    * contract as pdfText/pdfMeta: one adversarial member must not kill
    * a standing stream). */
  def zipEntries(b: Array[Byte]): Array[(String, Int, Long, Boolean, Array[Byte])] =
    try zipEntriesImpl(b)
    catch { case scala.util.control.NonFatal(_) => null }

  private def zipEntriesImpl(b: Array[Byte]): Array[(String, Int, Long, Boolean, Array[Byte])] = {
    if (b == null || b.length < 22) return null
    // EOCD: last 64 KB + 22, scanned backward
    var eocd = -1
    var i = b.length - 22
    val floor = math.max(0, b.length - 22 - 0xffff)
    while (eocd < 0 && i >= floor) {
      if (u(b, i) == 0x50 && u(b, i + 1) == 0x4b && u(b, i + 2) == 0x05 &&
        u(b, i + 3) == 0x06) eocd = i
      i -= 1
    }
    if (eocd < 0) return null
    var n = le16(b, eocd + 10)
    var cdOff = le32(b, eocd + 16)
    // ZIP64: sentinel counts/offsets (0xFFFF / 0xFFFFFFFF) defer to the
    // ZIP64 EOCD record, located via the 20-byte locator that sits
    // immediately before the classic EOCD. Writers emit ZIP64 even for
    // tiny archives (streaming writers can't know sizes up front), so a
    // reader without this path nulls out real-corpus members.
    if (n == 0xffff || cdOff == 0xffffffffL) {
      val loc = eocd - 20
      if (loc >= 0 && le32(b, loc) == 0x07064b50L) {
        val z64 = le64(b, loc + 8)
        if (z64 < 0 || z64 + 56 > b.length || le32(b, z64.toInt) != 0x06064b50L)
          return null // the locator points nowhere: structural break
        val total = le64(b, z64.toInt + 32)
        if (total < 0 || total > 1000000) return null
        n = total.toInt
        cdOff = le64(b, z64.toInt + 48)
      } else if (cdOff == 0xffffffffL) {
        return null // a sentinel offset with no ZIP64 record is unreadable
      }
      // else: APPNOTE semantics — a count of exactly 0xFFFF with no
      // locator is a REAL 65535-entry classic archive, not ZIP64
    }
    if (cdOff < 0 || cdOff + 4 > b.length) return null
    val out = new Array[(String, Int, Long, Boolean, Array[Byte])](n)
    var at = cdOff.toInt
    var e = 0
    while (e < n) {
      if (at + 46 > b.length || le32(b, at) != 0x02014b50L) return null
      val method = le16(b, at + 10)
      val crc = le32(b, at + 16)
      var csize = le32(b, at + 20)
      var usize = le32(b, at + 24)
      val nameLen = le16(b, at + 28)
      val extraLen = le16(b, at + 30)
      val commentLen = le16(b, at + 32)
      var localOff = le32(b, at + 42)
      if (at + 46 + nameLen + extraLen > b.length) return null
      val name = new String(b, at + 46, nameLen,
        java.nio.charset.StandardCharsets.UTF_8)
      // ZIP64 extended-information extra (id 0x0001): carries the 64-bit
      // value for EACH fixed field that holds the 0xFFFFFFFF sentinel,
      // in usize/csize/localOff order — only the sentinel'd ones appear
      if (csize == 0xffffffffL || usize == 0xffffffffL ||
          localOff == 0xffffffffL) {
        var x = at + 46 + nameLen
        val xEnd = x + extraLen
        var found = false
        while (!found && x + 4 <= xEnd) {
          val id = le16(b, x)
          val sz = le16(b, x + 2)
          if (id == 1) {
            var f = x + 4
            val fEnd = math.min(x + 4 + sz, xEnd)
            if (usize == 0xffffffffL && f + 8 <= fEnd) { usize = le64(b, f); f += 8 }
            if (csize == 0xffffffffL && f + 8 <= fEnd) { csize = le64(b, f); f += 8 }
            if (localOff == 0xffffffffL && f + 8 <= fEnd) { localOff = le64(b, f); f += 8 }
            found = true
          } else x += 4 + sz
        }
        if (!found || csize == 0xffffffffL || usize == 0xffffffffL ||
            localOff == 0xffffffffL) return null
      }
      // forged 64-bit fields: negative or out-of-file routes, never
      // reaches copyOfRange/array math
      if (csize < 0 || usize < 0 || localOff < 0 || localOff > b.length)
        return null
      // local header re-read: ITS name/extra lengths govern the data start
      var payload: Array[Byte] = null
      var ok = false
      val lo = localOff.toInt
      if (localOff + 30 <= b.length && le32(b, lo) == 0x04034b50L) {
        val lNameLen = le16(b, lo + 26)
        val lExtraLen = le16(b, lo + 28)
        val dataAt = lo + 30 + lNameLen + lExtraLen
        if (dataAt + csize <= b.length && usize <= (1L << 28)) {
          val comp = java.util.Arrays.copyOfRange(b, dataAt, (dataAt + csize).toInt)
          val raw = method match {
            case 0 => comp
            case 8 => inflateRaw(comp, usize.toInt)
            case _ => null // unsupported method: not ok, no payload
          }
          if (raw != null && raw.length.toLong == usize) {
            val c = new java.util.zip.CRC32()
            c.update(raw, 0, raw.length)
            if (c.getValue == crc) { ok = true; payload = raw }
          }
        }
      }
      out(e) = (name, method, usize, ok, payload)
      at += 46 + nameLen + extraLen + commentLen
      e += 1
    }
    out
  }

  private def inflateRaw(comp: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater(true) // raw deflate, no zlib wrap
    try {
      inf.setInput(comp)
      val out = new Array[Byte](expected)
      var got = 0
      while (got < expected && !inf.finished()) {
        val n = inf.inflate(out, got, expected - got)
        if (n == 0 && inf.needsInput()) return null // truncated
        got += n
      }
      if (got == expected) out else null
    } catch { case _: java.util.zip.DataFormatException => null }
    finally inf.end() // release the native buffer NOW (the WARC lesson)
  }

  /** TAR (ustar) entries: (name, typeflag, size, payload). Walk ends at
    * the two-zero-block terminator or buffer end; a bad header checksum
    * routes the whole parse to null. Never throws (same contract as
    * [[zipEntries]]). */
  def tarEntries(b: Array[Byte]): Array[(String, String, Long, Array[Byte])] =
    try {
      // .tar.gz/.tgz: a tarball wearing one gzip member (the dominant
      // on-disk form — tar itself has no compression); detect by magic
      // so the walker, not the dispatch, owns the decision
      val raw =
        if (b != null && b.length > 2 && u(b, 0) == 0x1f && u(b, 1) == 0x8b)
          gunzip(b)
        else b
      if (raw == null) null else tarEntriesImpl(raw)
    }
    catch { case scala.util.control.NonFatal(_) => null }

  /** Whole-payload gunzip, bounded at 256 MiB of output (don't trust a
    * declared length; a zip-bomb member routes to null, not OOM). The
    * close() in finally releases the native Inflater immediately —
    * per-row GC-relied native state is a measured superlinear wall-time
    * curve at scale (see WarcExpressions.gunzip). */
  def gunzip(b: Array[Byte]): Array[Byte] = {
    var in: java.util.zip.GZIPInputStream = null
    try {
      in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var total = 0L
      var n = in.read(buf)
      while (n > 0) {
        total += n
        if (total > (1L << 28)) return null
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } catch { case _: java.io.IOException => null }
    finally if (in != null) in.close()
  }

  private def tarEntriesImpl(b: Array[Byte]): Array[(String, String, Long, Array[Byte])] = {
    if (b == null || b.length < 512) return null
    val out = new scala.collection.mutable.ArrayBuffer[(String, String, Long, Array[Byte])]()
    var at = 0
    var sawAny = false
    // carried from GNU 'L' / PAX 'x' META entries to the next real one —
    // the long-name mechanisms every real-world tarball (kernel sources,
    // node_modules, ML checkpoints) uses past ustar's 100-char field
    var pendingName: String = null
    var pendingSize: Long = -1L
    while (at + 512 <= b.length) {
      var allZero = true
      var j = 0
      while (allZero && j < 512) { if (b(at + j) != 0) allZero = false; j += 1 }
      if (allZero) return if (sawAny) out.toArray else null
      // header checksum: byte sum with the checksum field as spaces
      var sum = 0L
      j = 0
      while (j < 512) {
        sum += (if (j >= 148 && j < 156) 0x20 else u(b, at + j))
        j += 1
      }
      val stored = octal(b, at + 148, 8)
      if (stored < 0 || stored != sum) return null
      val name0 = cstr(b, at, 100)
      val size = octal(b, at + 124, 12)
      if (size < 0 || size > (1L << 28)) return null
      val typeflag = {
        val t = u(b, at + 156)
        if (t == 0) "0" else String.valueOf(t.toChar)
      }
      val isMeta = typeflag == "L" || typeflag == "K" ||
        typeflag == "x" || typeflag == "g"
      // a PAX size record GOVERNS the next member's data (POSIX: the
      // header octal field may be zeros when the real size doesn't fit),
      // so the payload slice AND the 512-block advance both honor it —
      // and it gets the same 2^28 cap as header sizes
      val effSize = if (!isMeta && pendingSize >= 0) pendingSize else size
      if (effSize < 0 || effSize > (1L << 28)) return null
      val dataAt = at + 512
      if (dataAt + effSize > b.length) return null
      val payload =
        java.util.Arrays.copyOfRange(b, dataAt, (dataAt + effSize).toInt)
      typeflag match {
        case "L" => // GNU long name: payload = next entry's full name
          pendingName = {
            var end = payload.length
            while (end > 0 && (payload(end - 1) == 0 || payload(end - 1) == '\n'))
              end -= 1
            new String(payload, 0, end, java.nio.charset.StandardCharsets.UTF_8)
          }
        case "K" => () // GNU long LINK name: consume, nothing to carry
        case "x" =>
          // PAX extended header: "<len> key=value\n" records whose lengths
          // are BYTE counts — parse over bytes, decode each record alone
          // (a non-ASCII path would misalign every later record if the
          // lengths were applied to a decoded string)
          var p = 0
          var done = false
          while (!done && p < payload.length) {
            if (payload(p) == 0) { done = true } // NUL tail padding
            else {
              var sp = p
              while (sp < payload.length && payload(sp) != ' ') sp += 1
              var recLen = -1L
              if (sp > p && sp - p <= 9 && sp < payload.length) {
                recLen = 0L
                var d = p
                while (recLen >= 0 && d < sp) {
                  val c = payload(d) & 0xff
                  if (c < '0' || c > '9') recLen = -1L
                  else recLen = recLen * 10 + (c - '0')
                  d += 1
                }
              }
              // a valid record is longer than its length token + the
              // space (recLen counts the WHOLE record incl. the prefix),
              // else the substring length below goes negative ('1 x')
              if (recLen <= 0 || p + recLen > payload.length ||
                p + recLen <= sp + 1) return null
              val rec = new String(payload, sp + 1, (p + recLen - sp - 1).toInt,
                java.nio.charset.StandardCharsets.UTF_8).stripSuffix("\n")
              val eq = rec.indexOf('=')
              if (eq > 0) rec.substring(0, eq) match {
                case "path" => pendingName = rec.substring(eq + 1)
                case "size" =>
                  val v = rec.substring(eq + 1)
                  if (v.nonEmpty && v.length <= 18 && v.forall(_.isDigit))
                    pendingSize = v.toLong
                  else return null
                case _ => ()
              }
              p += recLen.toInt
            }
          }
        case "g" => () // PAX global header: applies defaults we don't track
        case _ =>
          // POSIX ustar prefix (155 bytes at 345) prepends when present
          val prefix =
            if (cstr(b, at + 257, 5) == "ustar") cstr(b, at + 345, 155) else ""
          val name =
            if (pendingName != null) pendingName
            else if (prefix.nonEmpty) prefix + "/" + name0
            else name0
          out += ((name, typeflag, effSize, payload))
          sawAny = true
          pendingName = null
          pendingSize = -1L
      }
      at = dataAt + (((effSize + 511) / 512) * 512).toInt
    }
    if (sawAny) out.toArray else null
  }

  private def cstr(b: Array[Byte], at: Int, max: Int): String = {
    var end = at
    while (end < at + max && b(end) != 0) end += 1
    new String(b, at, end - at, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def octal(b: Array[Byte], at: Int, len: Int): Long = {
    var v = 0L
    var i = at
    var seen = false
    val end = at + len
    while (i < end) {
      val c = u(b, i)
      if (c >= '0' && c <= '7') { v = v * 8 + (c - '0'); seen = true }
      else if (c == 0 || c == ' ') { if (seen) i = end - 1 } // terminator
      else return -1
      i += 1
    }
    if (seen) v else -1
  }

  // ------------------------------------------------------------- builders

  private final case class ZipMeta(name: Array[Byte], method: Int, crc: Long,
    csize: Int, usize: Int, off: Int)

  /** Write the local headers + (possibly deflated) data for every entry,
    * returning the central-directory metadata — shared by the classic
    * and ZIP64 builders so the compression loop exists once. Deflate
    * streams through a growable buffer (a fixed payload+64 buffer stalls
    * forever on a sufficiently incompressible payload). */
  private def writeZipLocals(out: java.io.ByteArrayOutputStream, version: Int,
      entries: Seq[(String, Array[Byte], Boolean)]): Seq[ZipMeta] = {
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    entries.map { case (name, payload, deflate) =>
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val c = new java.util.zip.CRC32(); c.update(payload, 0, payload.length)
      val comp =
        if (!deflate) payload
        else {
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          try {
            d.setInput(payload); d.finish()
            val buf = new java.io.ByteArrayOutputStream(payload.length + 64)
            val chunk = new Array[Byte](8192)
            while (!d.finished()) buf.write(chunk, 0, d.deflate(chunk))
            buf.toByteArray
          } finally d.end()
        }
      val off = out.size()
      w32(0x04034b50L); w16(version); w16(0); w16(if (deflate) 8 else 0)
      w16(0); w16(0) // time, date
      w32(c.getValue); w32(comp.length.toLong); w32(payload.length.toLong)
      w16(nb.length); w16(0)
      out.write(nb, 0, nb.length)
      out.write(comp, 0, comp.length)
      ZipMeta(nb, if (deflate) 8 else 0, c.getValue, comp.length, payload.length, off)
    }
  }

  /** Store (method 0) or deflate (method 8) each (name, payload, deflate?)
    * into a spec-conformant ZIP. */
  def buildZip(entries: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    val metas = writeZipLocals(out, 20, entries)
    val cdOff = out.size()
    for (m <- metas) {
      w32(0x02014b50L); w16(20); w16(20); w16(0); w16(m.method)
      w16(0); w16(0) // time, date
      w32(m.crc); w32(m.csize.toLong); w32(m.usize.toLong)
      w16(m.name.length); w16(0); w16(0); w16(0); w16(0); w32(0L)
      w32(m.off.toLong)
      out.write(m.name, 0, m.name.length)
    }
    val cdSize = out.size() - cdOff
    w32(0x06054b50L); w16(0); w16(0); w16(metas.length); w16(metas.length)
    w32(cdSize.toLong); w32(cdOff.toLong); w16(0)
    out.toByteArray
  }

  /** The same archive in ZIP64 dress (APPNOTE 4.5): the classic EOCD
    * carries 0xFFFF/0xFFFFFFFF sentinels deferring to the ZIP64 EOCD
    * record + locator, and every central entry sentinels its
    * csize/usize/localOff into an id-0x0001 extra field — the layout
    * streaming writers emit even for tiny archives (they can't know
    * sizes up front), so a crawl's zips wear it regardless of size. */
  def buildZip64(entries: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    def w64(v: Long): Unit = { w32(v & 0xffffffffL); w32((v >>> 32) & 0xffffffffL) }
    // local headers stay classic (real sizes fit; ZIP64 locals only
    // matter past 4 GiB, which no fixture reaches)
    val metas = writeZipLocals(out, 45, entries)
    val cdOff = out.size()
    for (m <- metas) {
      w32(0x02014b50L); w16(45); w16(45); w16(0); w16(m.method)
      w16(0); w16(0)
      w32(m.crc); w32(0xffffffffL); w32(0xffffffffL) // csize/usize deferred
      w16(m.name.length); w16(4 + 24); w16(0); w16(0); w16(0); w32(0L)
      w32(0xffffffffL) // localOff deferred
      out.write(m.name, 0, m.name.length)
      w16(1); w16(24) // ZIP64 extended information extra
      w64(m.usize.toLong); w64(m.csize.toLong); w64(m.off.toLong)
    }
    val cdSize = out.size() - cdOff
    val z64At = out.size()
    w32(0x06064b50L); w64(44L) // record size (fixed part)
    w16(45); w16(45); w32(0L); w32(0L)
    w64(metas.length.toLong); w64(metas.length.toLong)
    w64(cdSize.toLong); w64(cdOff.toLong)
    w32(0x07064b50L); w32(0L); w64(z64At.toLong); w32(1L) // locator
    w32(0x06054b50L); w16(0); w16(0); w16(0xffff); w16(0xffff)
    w32(0xffffffffL); w32(0xffffffffL); w16(0)
    out.toByteArray
  }

  /** ustar TAR with correct header checksums and the 2-block trailer. */
  def buildTar(entries: Seq[(String, String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for ((name, typeflag, payload) <- entries) {
      val h = new Array[Byte](512)
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      require(nb.length <= 100, "name fits the ustar field")
      System.arraycopy(nb, 0, h, 0, nb.length)
      def oct(at: Int, len: Int, v: Long): Unit = {
        val s = java.lang.Long.toOctalString(v)
        val pad = "0" * (len - 1 - s.length) + s
        System.arraycopy(pad.getBytes, 0, h, at, len - 1)
        h(at + len - 1) = 0
      }
      oct(100, 8, 420) // mode 0644
      oct(108, 8, 0); oct(116, 8, 0) // uid, gid
      oct(124, 12, payload.length.toLong)
      oct(136, 12, 0) // mtime
      h(156) = typeflag.charAt(0).toByte
      System.arraycopy("ustar".getBytes, 0, h, 257, 5)
      h(263) = '0'; h(264) = '0'
      java.util.Arrays.fill(h, 148, 156, 0x20.toByte) // blank checksum
      var sum = 0L
      for (j <- 0 until 512) sum += h(j) & 0xff
      val cs = java.lang.Long.toOctalString(sum)
      val pad = "0" * (6 - cs.length) + cs
      System.arraycopy(pad.getBytes, 0, h, 148, 6)
      h(154) = 0; h(155) = ' '
      out.write(h)
      out.write(payload, 0, payload.length)
      val rem = ((payload.length + 511) / 512) * 512 - payload.length
      out.write(new Array[Byte](rem), 0, rem)
    }
    out.write(new Array[Byte](1024), 0, 1024)
    out.toByteArray
  }
}

/** `gunzip_bytes(binary)` → the decompressed member bytes (bounded at
  * 256 MiB); null when the payload is not gzip or the stream breaks —
  * the single-file `.txt.gz` / `.jsonl.gz` form corpora ship in. */
case class GunzipBytes(child: Expression)
    extends BinaryCodecExpression("gunzip_bytes", BinaryType) {
  override def nullSafeEval(payload: Any): Any = {
    val b = payload.asInstanceOf[Array[Byte]]
    if (b.length < 2 || (b(0) & 0xff) != 0x1f || (b(1) & 0xff) != 0x8b) null
    else Archives.gunzip(b)
  }

  override protected def withNewChildInternal(newChild: Expression): GunzipBytes =
    copy(child = newChild)
}

object GunzipBytes {
  def gunzipBytes(media: Column): Column =
    GraftColumnShim.column(GunzipBytes(GraftColumnShim.expression(media)))
}

/** `zip_entries(binary)` → `array<struct<name string, method int,
  * usize bigint, crc_ok boolean, payload binary>>` via the central
  * directory, payloads decompressed and CRC-verified; null when no
  * EOCD/central directory parses. */
case class ZipEntries(child: Expression)
    extends BinaryCodecExpression("zip_entries", ZipEntries.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val es = Archives.zipEntries(payload.asInstanceOf[Array[Byte]])
    if (es == null) null
    else new GenericArrayData(es.map(e => InternalRow(
      UTF8String.fromString(e._1), e._2, e._3, e._4, e._5): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): ZipEntries =
    copy(child = newChild)
}

object ZipEntries {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("name", StringType),
    StructField("method", IntegerType),
    StructField("usize", LongType),
    StructField("crc_ok", BooleanType),
    StructField("payload", BinaryType))), containsNull = false)

  def zipEntries(media: Column): Column =
    GraftColumnShim.column(ZipEntries(GraftColumnShim.expression(media)))
}

/** `tar_entries(binary)` → `array<struct<name string, typeflag string,
  * size bigint, payload binary>>` for checksum-verified ustar archives;
  * null when the first header fails its checksum. */
case class TarEntries(child: Expression)
    extends BinaryCodecExpression("tar_entries", TarEntries.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val es = Archives.tarEntries(payload.asInstanceOf[Array[Byte]])
    if (es == null) null
    else new GenericArrayData(es.map(e => InternalRow(
      UTF8String.fromString(e._1), UTF8String.fromString(e._2),
      e._3, e._4): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): TarEntries =
    copy(child = newChild)
}

object TarEntries {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("name", StringType),
    StructField("typeflag", StringType),
    StructField("size", LongType),
    StructField("payload", BinaryType))), containsNull = false)

  def tarEntries(media: Column): Column =
    GraftColumnShim.column(TarEntries(GraftColumnShim.expression(media)))
}
