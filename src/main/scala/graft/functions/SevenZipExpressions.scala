package graft.functions

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Library-free 7z container walk (the public 7z format as documented
  * in 7-Zip's 7zFormat.txt) — Stack Exchange dumps and plenty of
  * mirror corpora ship as `.7z`. Built on the x162 ZIP precedent
  * (container triage + member extraction, build-then-parse inversion
  * for fixtures; no 7z tool exists in this environment, so interop is
  * by-construction rather than binary-vs-binary) and on the x254 LZMA
  * machinery for payloads:
  *
  *  - full signature/start-header CRC chain, raw AND LZMA-compressed
  *    (`kEncodedHeader`) headers, PackInfo/UnpackInfo/SubStreamsInfo,
  *    FilesInfo with UTF-16LE names and empty-stream/empty-file bits;
  *  - folder payload decode for the Copy (0x00), LZMA2 (0x21) and raw
  *    LZMA (0x030101) coders, plus bind-pair FILTER CHAINS over them:
  *    delta (0x03) and BCJ x86 (0x04 new id, 0x03030103 legacy) — the
  *    layouts Stack-Exchange-style dumps of code/binaries actually
  *    wear; a folder wearing anything else (non-x86 branch
  *    converters, BCJ2's 4-stream graph, PPMd) keeps its members
  *    visible with `crc_ok = false` and null payloads: triage never
  *    dies on an exotic coder, it routes;
  *  - per-substream CRC32 verification where the archive carries
  *    digests.
  *
  * Null for a broken CONTAINER (bad magic, start-header CRC, torn
  * next header); per-member dead letters for everything below that —
  * the same two-level quarantine as `zip_entries`. */
object SevenZip {

  final case class Entry(name: String, crcOk: Boolean, payload: Array[Byte])

  private object Corrupt extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }
  private def fail(): Nothing = throw Corrupt

  private val Magic = Array[Byte]('7', 'z', 0xBC.toByte, 0xAF.toByte, 0x27, 0x1C)

  private final class Cursor(val b: Array[Byte], var pos: Int, val end: Int) {
    def u8(): Int = {
      if (pos >= end) fail()
      pos += 1
      b(pos - 1) & 0xFF
    }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || pos + n > end) fail()
      val r = java.util.Arrays.copyOfRange(b, pos, pos + n)
      pos += n
      r
    }
    def le32(): Int = u8() | (u8() << 8) | (u8() << 16) | (u8() << 24)
    def le64(): Long = (le32().toLong & 0xFFFFFFFFL) | (le32().toLong << 32)

    /** 7z's variable-length number: first byte's high bits say how
      * many EXTRA bytes follow (7zFormat.txt REAL_UINT64). */
    def num(): Long = {
      val first = u8()
      var mask = 0x80
      var value = 0L
      var i = 0
      while (i < 8) {
        if ((first & mask) == 0)
          return value | ((first & (mask - 1)).toLong << (8 * i))
        value |= u8().toLong << (8 * i)
        mask >>= 1
        i += 1
      }
      value
    }
    def numInt(): Int = {
      val v = num()
      if (v < 0 || v > Int.MaxValue) fail()
      v.toInt
    }
  }

  /** A bit vector, optionally preceded by an all-defined marker byte. */
  private def readBoolVector(c: Cursor, n: Int): Array[Boolean] = {
    val out = new Array[Boolean](n)
    var mask = 0
    var cur = 0
    var i = 0
    while (i < n) {
      if (mask == 0) { cur = c.u8(); mask = 0x80 }
      out(i) = (cur & mask) != 0
      mask >>= 1
      i += 1
    }
    out
  }

  private def readOptionalBoolVector(c: Cursor, n: Int): Array[Boolean] = {
    if (c.u8() != 0) Array.fill(n)(true) else readBoolVector(c, n)
  }

  private final case class Coder(id: Long, props: Array[Byte],
      nIn: Int, nOut: Int)
  private final case class Folder(coders: Seq[Coder],
      bindPairs: Seq[(Int, Int)], packedIndices: Seq[Int],
      var unpackSizes: Seq[Long], var crc: Option[Int])

  private final case class StreamsInfo(packPos: Long, packSizes: Seq[Long],
      folders: Seq[Folder],
      subCounts: Seq[Int], subSizes: Seq[Seq[Long]],
      subCrcs: Seq[Seq[Option[Int]]])

  // property ids (7zFormat.txt)
  private val kEnd = 0x00
  private val kHeader = 0x01
  private val kMainStreamsInfo = 0x04
  private val kFilesInfo = 0x05
  private val kPackInfo = 0x06
  private val kUnpackInfo = 0x07
  private val kSubStreamsInfo = 0x08
  private val kSize = 0x09
  private val kCRC = 0x0A
  private val kFolder = 0x0B
  private val kCodersUnpackSize = 0x0C
  private val kNumUnpackStream = 0x0D
  private val kEmptyStream = 0x0E
  private val kEmptyFile = 0x0F
  private val kName = 0x11
  private val kEncodedHeader = 0x17

  def entries(raw: Array[Byte]): Seq[Entry] = {
    try entriesImpl(raw)
    catch { case Corrupt => null; case NonFatal(_) => null }
  }

  /** The parsed header: stream layout + file names + empty-stream
    * bits — everything both the in-memory and the ranged reader need
    * before touching any member payload byte. */
  private final case class HeaderDoc(streams: StreamsInfo,
      names: Seq[String], emptyStream: Array[Boolean])

  /** Parse the container's header through a RANGE READER — the shared
    * front half of [[entries]] (array-backed) and the ranged layout
    * scan [[scanLayout]] (Hadoop-FS pread): 32-byte start header, next
    * header at its declared offset, and — for `kEncodedHeader` — just
    * the header folder's pack bytes. Member payloads are never read.
    * `read` must return exactly `n` bytes or throw. */
  private def readHeaderDoc(read: (Long, Int) => Array[Byte],
      fileLen: Long): HeaderDoc = {
    if (fileLen < 32) fail()
    val start = read(0, 32)
    var i = 0
    while (i < 6) { if (start(i) != Magic(i)) fail(); i += 1 }
    // version (major 0) + start-header CRC over the 20 bytes after it
    if (Xz.crc32(start, 12, 32) != (new Cursor(start, 8, 12)).le32()) fail()
    val sh = new Cursor(start, 12, 32)
    val nhOff = sh.le64()
    val nhSize = sh.le64()
    val nhCrc = sh.le32()
    if (nhOff < 0 || nhSize < 0 || 32L + nhOff + nhSize > fileLen) fail()
    if (nhSize > Xz.MaxOut) fail() // headers are metadata, not payload
    var header = read(32L + nhOff, nhSize.toInt)
    if (Xz.crc32(header, 0, header.length) != nhCrc) fail()
    if (header.isEmpty) fail()
    if ((header(0) & 0xFF) == kEncodedHeader) {
      // the header itself is a folder payload — decode and re-read
      val hc = new Cursor(header, 1, header.length)
      val si = readStreamsInfo(hc)
      if (si.folders.size != 1) fail()
      val (po, ps) = folderPackExtent(si, 0)
      if (po < 0 || ps < 0 || ps > Xz.MaxOut || po + ps > fileLen) fail()
      val dec = decodeFolderPacked(read(po, ps.toInt), si.folders(0))
      if (dec == null) fail()
      header = dec
      if (header.isEmpty || (header(0) & 0xFF) != kHeader) fail()
    } else if ((header(0) & 0xFF) != kHeader) fail()

    val c = new Cursor(header, 1, header.length)
    var streams: StreamsInfo = null
    var names: Seq[String] = Nil
    var emptyStream: Array[Boolean] = Array.empty
    var done = false
    while (!done) {
      val id = c.numInt()
      id match {
        case `kEnd` => done = true
        case `kMainStreamsInfo` => streams = readStreamsInfo(c)
        case `kFilesInfo` =>
          val nFiles = c.numInt()
          names = Seq.fill(nFiles)("")
          emptyStream = new Array[Boolean](nFiles)
          var fDone = false
          while (!fDone) {
            val pid = c.numInt()
            if (pid == kEnd) fDone = true
            else {
              val size = c.numInt()
              val endAt = c.pos + size
              pid match {
                case `kEmptyStream` =>
                  emptyStream = readBoolVector(c, nFiles)
                case `kName` =>
                  if (c.u8() != 0) fail() // external names unsupported
                  val nb = ArrayBuffer[String]()
                  val sb = new StringBuilder
                  while (c.pos < endAt) {
                    val lo = c.u8(); val hi = c.u8()
                    val ch = (lo | (hi << 8)).toChar
                    if (ch == 0) { nb += sb.toString; sb.clear() }
                    else sb.append(ch)
                  }
                  if (nb.size != nFiles) fail()
                  names = nb.toSeq
                case _ => // mtime/attributes/kEmptyFile: triage ignores
              }
              c.pos = endAt
            }
          }
        case _ =>
          // unknown top-level property: sized, skippable
          val size = c.numInt()
          c.pos += size
          if (c.pos > c.end) fail()
      }
    }
    if (names.isEmpty) fail()
    HeaderDoc(streams, names, emptyStream)
  }

  private def entriesImpl(raw: Array[Byte]): Seq[Entry] = {
    if (raw == null) fail()
    val read = (off: Long, n: Int) => {
      if (off < 0 || n < 0 || off + n > raw.length) fail()
      java.util.Arrays.copyOfRange(raw, off.toInt, off.toInt + n)
    }
    val doc = readHeaderDoc(read, raw.length.toLong)
    val streams = doc.streams
    val names = doc.names
    val emptyStream = doc.emptyStream

    // decode folders and cut substreams
    val subPayloads = ArrayBuffer[(Boolean, Array[Byte])]()
    if (streams != null) {
      var f = 0
      while (f < streams.folders.size) {
        val unc = decodeFolder(raw, streams, f)
        val sizes = streams.subSizes(f)
        val crcs = streams.subCrcs(f)
        if (unc == null) {
          sizes.indices.foreach(_ => subPayloads += ((false, null)))
        } else {
          var off = 0L
          var s = 0
          while (s < sizes.size) {
            val len = sizes(s)
            if (off + len > unc.length) {
              subPayloads += ((false, null))
            } else {
              val part = java.util.Arrays.copyOfRange(
                unc, off.toInt, (off + len).toInt)
              val ok = crcs(s).forall(d => Xz.crc32(part, 0, part.length) == d)
              subPayloads += ((ok, if (ok) part else null))
            }
            off += len
            s += 1
          }
        }
        f += 1
      }
    }

    // map files over substreams; empty-stream files carry empty payloads
    var sub = 0
    names.indices.map { fi =>
      if (emptyStream.length > fi && emptyStream(fi))
        Entry(names(fi), crcOk = true, Array.empty[Byte])
      else if (sub < subPayloads.size) {
        val (ok, p) = subPayloads(sub)
        sub += 1
        Entry(names(fi), ok, p)
      } else Entry(names(fi), crcOk = false, null)
    }
  }

  private def readStreamsInfo(c: Cursor): StreamsInfo = {
    var packPos = 0L
    var packSizes: Seq[Long] = Nil
    var folders: Seq[Folder] = Nil
    var subCounts: Seq[Int] = Nil
    var subSizes: Seq[Seq[Long]] = Nil
    var subCrcs: Seq[Seq[Option[Int]]] = Nil
    var done = false
    while (!done) {
      c.numInt() match {
        case `kEnd` => done = true
        case `kPackInfo` =>
          packPos = c.num()
          val n = c.numInt()
          var pDone = false
          while (!pDone) {
            c.numInt() match {
              case `kEnd` => pDone = true
              case `kSize` => packSizes = Seq.fill(n)(c.num())
              case `kCRC` =>
                val defined = readOptionalBoolVector(c, n)
                defined.foreach(d => if (d) c.le32())
              case _ => fail()
            }
          }
        case `kUnpackInfo` =>
          if (c.numInt() != kFolder) fail()
          val nf = c.numInt()
          if (c.u8() != 0) fail() // external folders unsupported
          folders = Seq.fill(nf)(readFolder(c))
          if (c.numInt() != kCodersUnpackSize) fail()
          folders.foreach { f =>
            val total = f.coders.map(_.nOut).sum
            f.unpackSizes = Seq.fill(total)(c.num())
          }
          var uDone = false
          while (!uDone) {
            c.numInt() match {
              case `kEnd` => uDone = true
              case `kCRC` =>
                val defined = readOptionalBoolVector(c, nf)
                folders.zip(defined).foreach { case (f, d) =>
                  if (d) f.crc = Some(c.le32())
                }
              case _ => fail()
            }
          }
        case `kSubStreamsInfo` =>
          subCounts = folders.map(_ => 1)
          var haveSizes = false
          var sDone = false
          while (!sDone) {
            c.numInt() match {
              case `kEnd` => sDone = true
              case `kNumUnpackStream` =>
                subCounts = folders.map(_ => c.numInt())
              case `kSize` =>
                haveSizes = true
                subSizes = folders.zip(subCounts).map { case (f, n) =>
                  val known = Seq.fill(n - 1)(c.num())
                  known :+ (folderUnpackSize(f) - known.sum)
                }
              case `kCRC` =>
                // digests for streams whose CRC is not already known
                // (single-substream folders with a folder CRC keep it)
                val need = folders.zip(subCounts).flatMap { case (f, n) =>
                  if (n == 1 && f.crc.isDefined) Seq(f.crc)
                  else Seq.fill(n)(None: Option[Int])
                }
                val undefinedCount = need.count(_.isEmpty)
                val defined = readOptionalBoolVector(c, undefinedCount)
                var di = 0
                subCrcs = {
                  val all = need.map {
                    case Some(d) => Some(d)
                    case None =>
                      val r = if (defined(di)) Some(c.le32()) else None
                      di += 1
                      r
                  }
                  // regroup per folder
                  var at = 0
                  folders.zip(subCounts).map { case (_, n) =>
                    val g = all.slice(at, at + n)
                    at += n
                    g
                  }
                }
              case _ => fail()
            }
          }
          if (!haveSizes)
            subSizes = folders.zip(subCounts).map { case (f, n) =>
              if (n == 1) Seq(folderUnpackSize(f)) else fail()
            }
        case _ => fail()
      }
    }
    if (subCounts.isEmpty) {
      subCounts = folders.map(_ => 1)
      subSizes = folders.map(f => Seq(folderUnpackSize(f)))
    }
    if (subCrcs.isEmpty)
      subCrcs = folders.zip(subCounts).map { case (f, n) =>
        if (n == 1) Seq(f.crc) else Seq.fill(n)(None: Option[Int])
      }
    StreamsInfo(packPos, packSizes, folders, subCounts, subSizes, subCrcs)
  }

  private def readFolder(c: Cursor): Folder = {
    val nCoders = c.numInt()
    if (nCoders <= 0 || nCoders > 8) fail()
    val coders = Seq.fill(nCoders) {
      val flag = c.u8()
      val idLen = flag & 0x0F
      var id = 0L
      var i = 0
      while (i < idLen) { id = (id << 8) | c.u8(); i += 1 }
      val (nIn, nOut) =
        if ((flag & 0x10) != 0) (c.numInt(), c.numInt()) else (1, 1)
      val props =
        if ((flag & 0x20) != 0) c.bytes(c.numInt()) else Array.empty[Byte]
      Coder(id, props, nIn, nOut)
    }
    val totalIn = coders.map(_.nIn).sum
    val totalOut = coders.map(_.nOut).sum
    val bindPairs = Seq.fill(totalOut - 1)((c.numInt(), c.numInt()))
    val nPacked = totalIn - bindPairs.size
    val packedIndices =
      if (nPacked == 1) {
        // the single packed stream is the input not bound by any pair
        val bound = bindPairs.map(_._1).toSet
        Seq((0 until totalIn).find(i => !bound.contains(i)).getOrElse(fail()))
      } else Seq.fill(nPacked)(c.numInt())
    Folder(coders, bindPairs, packedIndices, Nil, None)
  }

  /** The folder's final output size: the out-stream no bind pair
    * consumes. */
  private def folderUnpackSize(f: Folder): Long = {
    val bound = f.bindPairs.map(_._2).toSet
    val idx = (f.unpackSizes.indices).reverse
      .find(i => !bound.contains(i)).getOrElse(0)
    f.unpackSizes(idx)
  }

  /** Decode folder `fi`'s payload from the packed region, or null when
    * the coder chain is unsupported or the data breaks — the caller
    * turns that into per-member dead letters.
    *
    * Supported folder shapes: ONE packed stream feeding a chain of
    * single-in/single-out coders linked by bind pairs — which covers
    * every plain archive (one coder) and the filter-chained layouts
    * real-world 7z wears (delta or BCJ-x86 in front of LZMA/LZMA2,
    * the Stack-Exchange-dump shape). Multi-input folders (BCJ2's
    * 4-stream graph) and non-x86 branch converters route as
    * quarantine, never die. */
  private def decodeFolder(raw: Array[Byte], si: StreamsInfo,
      fi: Int): Array[Byte] = {
    val (at, packSize) = folderPackExtent(si, fi)
    if (at < 0 || packSize < 0 || at + packSize > raw.length) return null
    decodeFolderPacked(java.util.Arrays.copyOfRange(
      raw, at.toInt, (at + packSize).toInt), si.folders(fi))
  }

  /** The ABSOLUTE byte extent (offset from file start, size) of folder
    * `fi`'s single packed stream — pack streams are laid out
    * consecutively from 32 + packPos, each folder consuming its
    * packedIndices-worth in order. (-1, -1) for the unsupported
    * multi-pack-stream shapes (BCJ2). This is what lets the ranged
    * reader seek straight to a member's compressed bytes without
    * loading the container. */
  private def folderPackExtent(si: StreamsInfo, fi: Int): (Long, Long) = {
    var firstPack = 0
    var f = 0
    while (f < fi) {
      firstPack += si.folders(f).packedIndices.size
      f += 1
    }
    if (si.folders(fi).packedIndices.size != 1 ||
      firstPack >= si.packSizes.size) (-1L, -1L)
    else {
      var at = 32L + si.packPos
      var i = 0
      while (i < firstPack) { at += si.packSizes(i); i += 1 }
      (at, si.packSizes(firstPack))
    }
  }

  /** The folder's coder chain in pack→output order with each stage's
    * declared unpack size, or null when the folder is not the supported
    * single-pack chain of 1-in/1-out coders (see [[decodeFolder]]'s
    * shape notes). With every coder 1-in/1-out, input index i and
    * output index i both belong to coder i: walk from the packed input
    * along bind pairs (inIndex, outIndex) until the unbound output. */
  private def folderChain(folder: Folder): Seq[(Coder, Long)] = {
    if (folder.packedIndices.size != 1) return null
    if (folder.coders.exists(cd => cd.nIn != 1 || cd.nOut != 1)) return null
    if (folder.unpackSizes.size != folder.coders.size) return null
    val out = ArrayBuffer[(Coder, Long)]()
    var idx = folder.packedIndices.head
    var steps = 0
    while (true) {
      if (idx < 0 || idx >= folder.coders.size) return null
      steps += 1
      if (steps > folder.coders.size) return null // bind-pair cycle
      out += ((folder.coders(idx), folder.unpackSizes(idx)))
      folder.bindPairs.find(_._2 == idx) match {
        case Some((nextIn, _)) => idx = nextIn
        case None => return out.toSeq // unbound output = folder output
      }
    }
    null // unreachable
  }

  private def decodeFolderPacked(packed: Array[Byte],
      folder: Folder): Array[Byte] = {
    val chain = folderChain(folder)
    if (chain == null) return null
    var data = packed
    var i = 0
    while (i < chain.size) {
      val (coder, expect) = chain(i)
      if (expect < 0 || expect > Xz.MaxOut) return null
      data = decodeCoder(coder, data, expect)
      if (data == null || data.length.toLong != expect) return null
      i += 1
    }
    folder.crc match {
      case Some(d) if Xz.crc32(data, 0, data.length) != d => null
      case _ => data
    }
  }

  /** One chain stage. The filter coders (delta 0x03, BCJ x86 under
    * both its new 0x04 and legacy 0x03030103 ids) are size-preserving
    * in-place kernels shared with the XZ block decode (x257) — 7z and
    * xz document the same Bra86/delta algorithms. Anything else —
    * non-x86 branch converters (PPC 0x05 … SPARC 0x09), BCJ2,
    * PPMd/BZip2 payload coders — returns null: triage, don't die. */
  private def decodeCoder(coder: Coder, in: Array[Byte],
      expect: Long): Array[Byte] = coder.id match {
    case 0x00 => // Copy
      if (in.length.toLong != expect) null else in
    case 0x21 => // LZMA2
      Xz.lzma2Decode(in)
    case 0x030101 => // raw LZMA
      if (coder.props.length < 1) null
      else Xz.lzmaRawDecode(in, coder.props(0) & 0xFF, expect.toInt)
    case 0x03 => // delta filter: props byte = distance - 1
      if (coder.props.length != 1 || in.length.toLong != expect) null
      else {
        val cp = java.util.Arrays.copyOf(in, in.length)
        Xz.deltaDecode(cp, (coder.props(0) & 0xFF) + 1)
        cp
      }
    case 0x04 | 0x03030103 => // BCJ x86, new and legacy method ids
      if (in.length.toLong != expect) null
      else {
        val cp = java.util.Arrays.copyOf(in, in.length)
        Xz.x86Convert(cp, 0, encoding = false)
        cp
      }
    case _ => null
  }

  // ------------------------------------------------- ranged layout scan

  /** One coder stage of a folder chain, as the ranged reader sees it
    * (pack→output order). */
  final case class RangedCoder(id: Long, props: Array[Byte])

  /** One member as the HEADER alone describes it — everything a ranged
    * reader needs to stream the member's rows without ever loading the
    * container: the folder's absolute pack extent, its coder chain, and
    * the member's (offset, length) slice of the folder's output.
    * `folder == -1` marks a member with no decodable stream behind it
    * (empty files — `length == 0` — or a header/substream mismatch —
    * `length == -1`); `coders.isEmpty` with `folder >= 0` marks a
    * folder shape the ranged path does not stream (BCJ2 multi-pack,
    * bind-pair cycles) — routed, never dropped. */
  final case class RangedMember(
      name: String, folder: Int,
      packOff: Long, packLen: Long,
      coders: Seq[RangedCoder],
      offsetInFolder: Long, length: Long,
      folderUnpack: Long, crc: Option[Int])

  /** HEADER-ONLY layout scan through a range reader — the [[entries]]
    * front half for files too large to hold (a stackoverflow.com dump
    * is tens of GB): reads the 32-byte start header, the next header,
    * and (for encoded headers) just the header folder's pack bytes.
    * Null when the CONTAINER is broken — same admission as
    * [[entries]]. */
  def scanLayout(read: (Long, Int) => Array[Byte],
      fileLen: Long): Seq[RangedMember] = try {
    val doc = readHeaderDoc(read, fileLen)
    val si = doc.streams
    // per folder: pack extent + chain + final unpack size
    val folderMeta: IndexedSeq[(Long, Long, Seq[RangedCoder], Long)] =
      if (si == null) IndexedSeq.empty
      else si.folders.indices.map { fi =>
        val (po, ps) = folderPackExtent(si, fi)
        val chain = folderChain(si.folders(fi))
        if (po < 0 || ps < 0 || po + ps > fileLen || chain == null)
          (po, ps, Nil, folderUnpackSize(si.folders(fi)))
        else (po, ps,
          chain.map { case (c, _) => RangedCoder(c.id, c.props) },
          folderUnpackSize(si.folders(fi)))
      }
    // flatten substreams: (folder, offsetInFolder, length, crc)
    val subs = ArrayBuffer[(Int, Long, Long, Option[Int])]()
    if (si != null) si.folders.indices.foreach { f =>
      var off = 0L
      si.subSizes(f).zip(si.subCrcs(f)).foreach { case (len, crc) =>
        subs += ((f, off, len, crc))
        off += len
      }
    }
    var sub = 0
    doc.names.indices.map { fi =>
      if (doc.emptyStream.length > fi && doc.emptyStream(fi))
        RangedMember(doc.names(fi), -1, -1L, -1L, Nil, 0L, 0L, 0L,
          Some(Xz.crc32(Array.empty[Byte], 0, 0)))
      else if (sub < subs.size) {
        val (f, off, len, crc) = subs(sub)
        sub += 1
        val (po, ps, chain, funp) = folderMeta(f)
        RangedMember(doc.names(fi), f, po, ps, chain, off, len, funp, crc)
      } else
        RangedMember(doc.names(fi), -1, -1L, -1L, Nil, 0L, -1L, 0L, None)
    }
  } catch { case Corrupt => null; case NonFatal(_) => null }

  // ------------------------------------------------------------- writer

  /** Fixture writer: one folder per file (Copy, LZMA2-literal, or raw
    * LZMA coder round-robin), raw or LZMA2-ENCODED header, per-folder
    * CRC32 digests — enough surface to invert every parser branch.
    * With `emptyStreamBits` set, zero-length files take the
    * kEmptyStream route (bit vector in FilesInfo, NO folder) instead
    * of an empty substream — the layout real 7z tools emit. */
  def build(files: Seq[(String, Array[Byte])],
      encodedHeader: Boolean = false,
      emptyStreamBits: Boolean = false,
      chainFor: Int => Option[(Long, Array[Byte])] = _ => None,
      coderFor: Int => Int = i => i % 3): Array[Byte] = {
    val packs = ArrayBuffer[Array[Byte]]()
    val folderMeta = ArrayBuffer[FolderSpec]()
    val isEmpty = files.map(f => emptyStreamBits && f._2.isEmpty)
    files.zipWithIndex.filter(t => !isEmpty(t._2)).zipWithIndex
      .foreach { case ((((_, data), origIdx), i)) =>
      val crc = Xz.crc32(data, 0, data.length)
      chainFor(origIdx) match {
        case Some((fid, fprops)) =>
          // filter-chained folder, the real-world "-mf=…" layout: the
          // filter saw the RAW bytes at encode time, LZMA2 packs the
          // filtered bytes, so the wire chain decodes
          // packed →(LZMA2)→ filtered →(filter⁻¹)→ raw. An id we
          // don't encode for (a non-x86 arch) packs the raw bytes
          // unfiltered — the decoder must ROUTE it before any
          // byte-level check, which is exactly what the gate pins.
          val filtered = java.util.Arrays.copyOf(data, data.length)
          fid match {
            case 0x03L => Xz.deltaEncode(filtered, (fprops(0) & 0xFF) + 1)
            case 0x04L | 0x03030103L =>
              Xz.x86Convert(filtered, 0, encoding = true)
            case _ => // exotic arch: decoder routes, payload form moot
          }
          packs += Xz.lzma2EncodeLiterals(filtered)
          folderMeta += ((
            Seq(coderSpec(1, Array[Byte](26)), (fid, fprops)),
            Seq(data.length.toLong, data.length.toLong), crc))
        case None => coderFor(i) % 3 match {
          case 0 =>
            packs += data
            folderMeta += ((Seq(coderSpec(0, Array.empty[Byte])),
              Seq(data.length.toLong), crc))
          case 1 =>
            packs += Xz.lzma2EncodeLiterals(data)
            folderMeta += ((Seq(coderSpec(1, Array[Byte](26))),
              Seq(data.length.toLong), crc))
          case _ =>
            val (props, packed) = Xz.lzmaRawEncodeLiterals(data)
            packs += packed
            val pb = new Array[Byte](5)
            pb(0) = props.toByte
            pb(1) = 0; pb(2) = 0; pb(3) = 2; pb(4) = 0 // 128 KiB dict, LE
            folderMeta += ((Seq(coderSpec(2, pb)),
              Seq(data.length.toLong), crc))
        }
      }
    }

    val header = new java.io.ByteArrayOutputStream()
    header.write(kHeader)
    header.write(kMainStreamsInfo)
    writeStreamsInfo(header, packs.toSeq, folderMeta.toSeq, packPos = 0)
    header.write(kFilesInfo)
    writeNum(header, files.size.toLong)
    if (isEmpty.exists(identity)) {
      // kEmptyStream: one bit per file, msb-first
      val bits = new java.io.ByteArrayOutputStream()
      var cur = 0
      var nbits = 0
      isEmpty.foreach { e =>
        cur = (cur << 1) | (if (e) 1 else 0)
        nbits += 1
        if (nbits == 8) { bits.write(cur); cur = 0; nbits = 0 }
      }
      if (nbits > 0) bits.write(cur << (8 - nbits))
      header.write(kEmptyStream)
      writeNum(header, bits.size().toLong)
      bits.writeTo(header)
    }
    val nameBytes = new java.io.ByteArrayOutputStream()
    nameBytes.write(0) // not external
    files.foreach { case (n, _) =>
      n.foreach { ch =>
        nameBytes.write(ch.toInt & 0xFF); nameBytes.write((ch.toInt >> 8) & 0xFF)
      }
      nameBytes.write(0); nameBytes.write(0)
    }
    header.write(kName)
    writeNum(header, nameBytes.size().toLong)
    nameBytes.writeTo(header)
    header.write(kEnd) // files info
    header.write(kEnd) // header
    val headerArr = header.toByteArray

    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic, 0, 6)
    out.write(0); out.write(4) // version 0.4
    val body = new java.io.ByteArrayOutputStream()
    packs.foreach(p => body.write(p, 0, p.length))
    val nextHeader =
      if (!encodedHeader) headerArr
      else {
        // compress the header itself as a one-folder LZMA2 stream
        val packedHeader = Xz.lzma2EncodeLiterals(headerArr)
        val eh = new java.io.ByteArrayOutputStream()
        eh.write(kEncodedHeader)
        writeStreamsInfo(eh, Seq(packedHeader),
          Seq((Seq(coderSpec(1, Array[Byte](26))),
            Seq(headerArr.length.toLong),
            Xz.crc32(headerArr, 0, headerArr.length))),
          packPos = body.size().toLong)
        body.write(packedHeader, 0, packedHeader.length)
        eh.toByteArray
      }
    val bodyArr = body.toByteArray
    val sh = new java.io.ByteArrayOutputStream()
    writeLe64(sh, bodyArr.length.toLong) // next header offset
    writeLe64(sh, nextHeader.length.toLong)
    writeLe32(sh, Xz.crc32(nextHeader, 0, nextHeader.length))
    val shArr = sh.toByteArray
    writeLe32(out, Xz.crc32(shArr, 0, shArr.length))
    out.write(shArr, 0, shArr.length)
    out.write(bodyArr, 0, bodyArr.length)
    out.write(nextHeader, 0, nextHeader.length)
    out.toByteArray
  }

  /** A folder on the writer side: its coder CHAIN in pack-to-output
    * order (each 1-in/1-out; id + props), per-coder unpack sizes in
    * the same order, and the folder CRC. A one-element chain is the
    * plain-archive layout; longer chains get bind pairs
    * (inIndex = i+1 consumes outIndex = i). */
  private type FolderSpec = (Seq[(Long, Array[Byte])], Seq[Long], Int)

  private def coderSpec(kind: Int, props: Array[Byte]): (Long, Array[Byte]) =
    kind match {
      case 0 => (0x00L, Array.empty[Byte])
      case 1 => (0x21L, props)
      case _ => (0x030101L, props)
    }

  private def writeStreamsInfo(out: java.io.ByteArrayOutputStream,
      packs: Seq[Array[Byte]], folders: Seq[FolderSpec],
      packPos: Long): Unit = {
    out.write(kPackInfo)
    writeNum(out, packPos)
    writeNum(out, packs.size.toLong)
    out.write(kSize)
    packs.foreach(p => writeNum(out, p.length.toLong))
    out.write(kEnd)
    out.write(kUnpackInfo)
    out.write(kFolder)
    writeNum(out, folders.size.toLong)
    out.write(0) // not external
    folders.foreach { case (coders, _, _) =>
      writeNum(out, coders.size.toLong)
      coders.foreach { case (id, props) =>
        val idLen = math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(id) + 7) / 8)
        out.write(idLen | (if (props.nonEmpty) 0x20 else 0x00))
        var k = idLen - 1
        while (k >= 0) { out.write(((id >>> (8 * k)) & 0xFF).toInt); k -= 1 }
        if (props.nonEmpty) {
          writeNum(out, props.length.toLong)
          out.write(props, 0, props.length)
        }
      }
      // bind pairs: coder i+1's input consumes coder i's output
      var b = 0
      while (b < coders.size - 1) {
        writeNum(out, (b + 1).toLong) // in index
        writeNum(out, b.toLong) // out index
        b += 1
      }
      // nPacked = totalIn - bindPairs = 1: no packed indices on the wire
    }
    out.write(kCodersUnpackSize)
    folders.foreach { case (_, sizes, _) =>
      sizes.foreach(sz => writeNum(out, sz))
    }
    out.write(kCRC)
    out.write(1) // all defined
    folders.foreach { case (_, _, crc) => writeLe32(out, crc) }
    out.write(kEnd)
    out.write(kEnd)
  }

  /** Full REAL_UINT64 writer (7zFormat.txt): the first byte's high
    * bits count the LSB-first extra bytes, its low bits carry the
    * number's top bits — all nine forms, so a member or pack stream
    * past 2 MiB (or 2^56) round-trips instead of silently corrupting
    * the header (the old 3-byte cap spilled `v >> 16` into the
    * extra-byte flags). */
  private def writeNum(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var first = 0
    var mask = 0x80
    var extras = 0
    var fits = false
    while (extras < 8 && !fits) {
      if (java.lang.Long.compareUnsigned(v, 1L << (7 * (extras + 1))) < 0) {
        first |= (v >>> (8 * extras)).toInt
        fits = true
      } else {
        first |= mask
        mask >>= 1
        extras += 1
      }
    }
    out.write(first)
    var rest = v
    var i = 0
    while (i < extras) {
      out.write((rest & 0xFF).toInt)
      rest >>>= 8
      i += 1
    }
  }

  private def writeLe32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
    out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
  }

  private def writeLe64(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    writeLe32(out, (v & 0xFFFFFFFFL).toInt)
    writeLe32(out, (v >>> 32).toInt)
  }
}

/** `sevenz_entries(binary)` → `array<struct<name string, crc_ok
  * boolean, payload binary>>`; null when the CONTAINER is unreadable,
  * per-member dead letters below that (see [[SevenZip]]). */
case class SevenZipEntries(child: Expression)
    extends BinaryCodecExpression("sevenz_entries", SevenZipEntries.resultType) {
  override def nullSafeEval(payload: Any): Any = {
    val es = SevenZip.entries(payload.asInstanceOf[Array[Byte]])
    if (es == null) null
    else new GenericArrayData(es.map(e => InternalRow(
      UTF8String.fromString(e.name), e.crcOk, e.payload): Any).toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): SevenZipEntries =
    copy(child = newChild)
}

object SevenZipEntries {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("name", StringType),
    StructField("crc_ok", BooleanType),
    StructField("payload", BinaryType))), containsNull = false)

  def sevenzEntries(media: Column): Column =
    GraftColumnShim.column(SevenZipEntries(GraftColumnShim.expression(media)))
}
