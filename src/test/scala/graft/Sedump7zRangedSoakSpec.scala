package graft

import java.io.RandomAccessFile

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Xz
import graft.streaming.Pipelines

/** The stackoverflow.com posture, genuinely exercised: one `.7z` whose
  * single `Posts.xml` member is ~2.4 GiB uncompressed — past the
  * bounded column reader's 256 MiB inflate bound, past a signed-32-bit
  * byte offset, and past anything `binaryFile` should ever hold — must
  * stream through [[Pipelines.sedumpPostsRanged]] with a used-heap
  * high-water that is O(dict-window), never O(member). The fixture is
  * written STREAMING (LZMA2 uncompressed chunks, start header patched
  * in afterwards) by independent code, so it also cross-checks the
  * header parser against a second implementation of the layout. Rows
  * are ~1 KiB, so thousands straddle chunk boundaries and one straddles
  * 2^31 exactly; two planted unique rows (one right at the boundary)
  * round-trip text-exact; the folder CRC (computed while writing)
  * verifies incrementally over the whole pass. */
class Sedump7zRangedSoakSpec extends AnyFunSuite with LocalSpark {

  private def writeNum(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    // REAL_UINT64, independently re-implemented for the cross-check
    var first = 0
    var mask = 0x80
    var extras = 0
    var fits = false
    while (extras < 8 && !fits) {
      if (java.lang.Long.compareUnsigned(v, 1L << (7 * (extras + 1))) < 0) {
        first |= (v >>> (8 * extras)).toInt
        fits = true
      } else { first |= mask; mask >>= 1; extras += 1 }
    }
    out.write(first)
    var rest = v
    var i = 0
    while (i < extras) { out.write((rest & 0xFF).toInt); rest >>>= 8; i += 1 }
  }

  private def writeLe32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
    out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
  }

  /** Raw header + start-header patch for a ONE-member container whose
    * single pack stream is already on disk after the 32-byte slot:
    * MainStreamsInfo(PackInfo + UnpackInfo(one coder, folder CRC)) +
    * FilesInfo(Posts.xml) — shared by the LZMA2 and raw-LZMA1 soak
    * arms, independently re-implemented for the header cross-check. */
  private def finishContainer(raf: RandomAccessFile, packSize: Long,
      unpacked: Long, crcDone: Int, coderId: Seq[Byte],
      props: Array[Byte]): Unit = {
    val h = new java.io.ByteArrayOutputStream()
    h.write(0x01) // kHeader
    h.write(0x04) // kMainStreamsInfo
    h.write(0x06) // kPackInfo
    writeNum(h, 0L) // packPos
    writeNum(h, 1L) // one pack stream
    h.write(0x09); writeNum(h, packSize) // kSize
    h.write(0x00) // end PackInfo
    h.write(0x07) // kUnpackInfo
    h.write(0x0B) // kFolder
    writeNum(h, 1L) // one folder
    h.write(0) // not external
    writeNum(h, 1L) // one coder
    h.write(coderId.length | 0x20) // id len, has props
    coderId.foreach(b => h.write(b & 0xFF))
    writeNum(h, props.length.toLong)
    props.foreach(b => h.write(b & 0xFF))
    h.write(0x0C) // kCodersUnpackSize
    writeNum(h, unpacked)
    h.write(0x0A) // kCRC
    h.write(1) // all defined
    writeLe32(h, crcDone)
    h.write(0x00) // end UnpackInfo
    h.write(0x00) // end MainStreamsInfo
    h.write(0x05) // kFilesInfo
    writeNum(h, 1L)
    val nameBytes = new java.io.ByteArrayOutputStream()
    nameBytes.write(0)
    "Posts.xml".foreach { ch =>
      nameBytes.write(ch.toInt & 0xFF); nameBytes.write(0)
    }
    nameBytes.write(0); nameBytes.write(0)
    h.write(0x11) // kName
    writeNum(h, nameBytes.size().toLong)
    nameBytes.writeTo(h)
    h.write(0x00) // end FilesInfo
    h.write(0x00) // end header
    val header = h.toByteArray
    raf.write(header)

    // patch the start header
    val sh = new java.io.ByteArrayOutputStream()
    (0 until 8).foreach(i => sh.write(((packSize >>> (8 * i)) & 0xFF).toInt))
    (0 until 8).foreach(i =>
      sh.write(((header.length.toLong >>> (8 * i)) & 0xFF).toInt))
    writeLe32(sh, Xz.crc32(header, 0, header.length))
    val shArr = sh.toByteArray
    raf.seek(8)
    val shCrc = new java.io.ByteArrayOutputStream()
    writeLe32(shCrc, Xz.crc32(shArr, 0, shArr.length))
    raf.write(shCrc.toByteArray)
    raf.write(shArr)
  }

  test("a ~2.4 GiB Posts.xml member streams in O(window) heap, rows " +
      "past 2^31 intact, planted rows text-exact, folder CRC verified") {
    val boundary = 1L << 31
    val target = boundary + (300L << 20) // ~2.4 GiB of member bytes
    val f = java.io.File.createTempFile("sedump_soak", ".7z")
    f.deleteOnExit()

    val raf = new RandomAccessFile(f, "rw")
    var rows = 0L
    var uniqueAt = -1L // unpacked offset of the boundary-straddling row
    val chunk = new Array[Byte](1 << 16)
    var chunkLen = 0
    var unpacked = 0L
    var crc = Xz.crc32Init
    var firstChunk = true
    try {
      // magic + version + 24 placeholder bytes (start-header slot)
      raf.write(Array[Byte]('7', 'z', 0xBC.toByte, 0xAF.toByte, 0x27, 0x1C))
      raf.write(Array[Byte](0, 4))
      raf.write(new Array[Byte](24))

      def flushChunk(): Unit = if (chunkLen > 0) {
        raf.write(if (firstChunk) 1 else 2) // uncompressed LZMA2 chunk
        raf.write((chunkLen - 1) >>> 8)
        raf.write((chunkLen - 1) & 0xFF)
        raf.write(chunk, 0, chunkLen)
        firstChunk = false
        chunkLen = 0
      }
      def emit(s: String): Unit = {
        val b = s.getBytes("UTF-8")
        crc = Xz.crc32Update(crc, b, 0, b.length)
        var i = 0
        while (i < b.length) {
          val n = math.min(b.length - i, chunk.length - chunkLen)
          System.arraycopy(b, i, chunk, chunkLen, n)
          chunkLen += n
          i += n
          if (chunkLen == chunk.length) flushChunk()
        }
        unpacked += b.length
      }

      emit("""<?xml version="1.0" encoding="utf-8"?><posts>""")
      val filler = "f" * 900
      while (unpacked < target - 2048) {
        rows += 1
        if (unpacked < boundary && unpacked + 1100 >= boundary) {
          uniqueAt = unpacked
          emit(s"""<row Id="$rows" PostTypeId="2" """ +
            s"""Body="boundary row &amp; marker > ok $filler" />""")
        } else
          emit(s"""<row Id="$rows" PostTypeId="1" Body="p$rows $filler" />""")
      }
      rows += 1
      emit(s"""<row Id="$rows" PostTypeId="2" Body="the last row" />""")
      emit("</posts>")
      flushChunk()
      raf.write(0) // LZMA2 terminator

      val packSize = raf.getFilePointer - 32
      finishContainer(raf, packSize, unpacked, Xz.crc32Done(crc),
        Seq(0x21.toByte), // LZMA2
        Array[Byte](18)) // props: (2|0)<<(18/2+11) = 1 MiB dict
    } finally raf.close()

    assert(unpacked > boundary, s"member must cross 2^31: $unpacked")
    assert(uniqueAt > 0, "no boundary row planted")
    info(s"fixture: ${f.length() / (1 << 20)} MiB, $rows rows, " +
      s"member $unpacked B")

    val rt = Runtime.getRuntime
    System.gc()
    val baseline = rt.totalMemory - rt.freeMemory
    @volatile var done = false
    @volatile var peak = baseline
    val sampler = new Thread(() => {
      while (!done) {
        val u = rt.totalMemory - rt.freeMemory
        if (u > peak) peak = u
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    import spark.implicits._
    val df = Pipelines.sedumpPostsRanged(Seq(f.getAbsolutePath).toDF("path"))
    // ONE pass, no cache — caching 2.4M rows would itself be the
    // O(member) materialization this spec forbids
    val agg = df.agg(
      count(lit(1)).as("n"),
      count(when(col("ok"), 1)).as("n_ok"),
      collect_list(when(
        col("post_id") === rows || col("text").contains("boundary row"),
        struct(col("post_id"), col("post_type"), col("text")))).as("planted"))
      .head()
    val (n, nOk) = (agg.getLong(0), agg.getLong(1))
    assert(n == rows && nOk == rows,
      s"rows=$rows got n=$n ok=$nOk (a dead letter means a decode " +
        "break or CRC mismatch)")
    val planted = agg.getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(planted.exists(p => p._3.startsWith("boundary row & marker > ok")
      && p._2 == 2), s"boundary row lost: $planted")
    assert(planted.contains((rows, 2, "the last row")), s"got $planted")

    done = true
    val deltaMiB = (peak - baseline) / (1 << 20)
    info(s"peak used-heap delta $deltaMiB MiB over a " +
      s"${unpacked / (1 << 20)} MiB member")
    // the 1 MiB declared dict rides a 128 KiB-floored ring; Spark task
    // machinery and the cached projection add noise, but an O(member)
    // materialization (2.4 GiB in one allocation) cannot fit under this
    assert(peak - baseline < (1536L << 20),
      s"heap delta $deltaMiB MiB suggests O(member) materialization")

    assert(f.delete())
  }

  test("a >2 GiB raw-LZMA1 member ENCODED BY SYSTEM XZ streams in " +
      "O(window) heap — real matches/reps at range-coder level, rows " +
      "past 2^31 intact, folder CRC verified") {
    val xz = Seq("/root/miniconda/bin/xz", "/usr/bin/xz", "/usr/local/bin/xz")
      .find(p => new java.io.File(p).canExecute)
      .getOrElse(cancel("no system xz binary"))
    val boundary = 1L << 31
    val target = boundary + (100L << 20) // ~2.2 GiB of member bytes

    // generate the member THROUGH the real encoder: rows piped into
    // `xz --format=lzma -0` (256 KiB declared dict — the ring stays
    // tiny and real back-references cross every boundary)
    val lz = java.io.File.createTempFile("sedump_lzma1", ".lzma")
    lz.deleteOnExit()
    val pb = new ProcessBuilder(xz, "-q", "-0", "--format=lzma", "-c")
    pb.redirectOutput(lz)
    val proc = pb.start()
    val os = new java.io.BufferedOutputStream(proc.getOutputStream, 1 << 16)
    var rows = 0L
    var unpacked = 0L
    var crc = Xz.crc32Init
    var uniqueAt = -1L
    def emit(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      crc = Xz.crc32Update(crc, b, 0, b.length)
      os.write(b)
      unpacked += b.length
    }
    emit("""<?xml version="1.0" encoding="utf-8"?><posts>""")
    val filler = "f" * 900
    while (unpacked < target - 2048) {
      rows += 1
      if (unpacked < boundary && unpacked + 1100 >= boundary) {
        uniqueAt = unpacked
        emit(s"""<row Id="$rows" PostTypeId="2" """ +
          s"""Body="boundary row &amp; marker > ok $filler" />""")
      } else
        emit(s"""<row Id="$rows" PostTypeId="1" Body="p$rows $filler" />""")
    }
    rows += 1
    emit(s"""<row Id="$rows" PostTypeId="2" Body="the last row" />""")
    emit("</posts>")
    os.close()
    assert(proc.waitFor() == 0, "system xz --format=lzma failed")
    assert(unpacked > boundary, s"member must cross 2^31: $unpacked")
    assert(uniqueAt > 0, "no boundary row planted")

    // wrap the raw stream (the .lzma minus its 13-byte header) in a 7z
    // container wearing the 0x030101 coder and the header's 5 props
    // bytes — the layout pre-2015 7-Zip wrote by default
    val f = java.io.File.createTempFile("sedump_lzma1", ".7z")
    f.deleteOnExit()
    val raf = new RandomAccessFile(f, "rw")
    try {
      raf.write(Array[Byte]('7', 'z', 0xBC.toByte, 0xAF.toByte, 0x27, 0x1C))
      raf.write(Array[Byte](0, 4))
      raf.write(new Array[Byte](24))
      val in = new java.io.FileInputStream(lz)
      val props = new Array[Byte](5)
      try {
        var got = 0
        while (got < 5) got += in.read(props, got, 5 - got)
        in.skip(8) // declared-size field (xz writes -1; 7z carries it)
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n > 0) { raf.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      val packSize = raf.getFilePointer - 32
      finishContainer(raf, packSize, unpacked, Xz.crc32Done(crc),
        Seq(0x03.toByte, 0x01.toByte, 0x01.toByte), props)
    } finally raf.close()
    assert(lz.delete())
    info(s"fixture: ${f.length() / (1 << 20)} MiB packed, $rows rows, " +
      s"member $unpacked B")

    val rt = Runtime.getRuntime
    System.gc()
    val baseline = rt.totalMemory - rt.freeMemory
    @volatile var done = false
    @volatile var peak = baseline
    val sampler = new Thread(() => {
      while (!done) {
        val u = rt.totalMemory - rt.freeMemory
        if (u > peak) peak = u
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    import spark.implicits._
    val df = Pipelines.sedumpPostsRanged(Seq(f.getAbsolutePath).toDF("path"))
    val agg = df.agg(
      count(lit(1)).as("n"),
      count(when(col("ok"), 1)).as("n_ok"),
      count(when(col("crc_checked"), 1)).as("n_crc"),
      collect_list(when(
        col("post_id") === rows || col("text").contains("boundary row"),
        struct(col("post_id"), col("post_type"), col("text")))).as("planted"))
      .head()
    val (n, nOk, nCrc) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    assert(n == rows && nOk == rows,
      s"rows=$rows got n=$n ok=$nOk (a dead letter means a decode " +
        "break or CRC mismatch)")
    // one sequential slice covers the whole folder → CRC verified
    assert(nCrc == rows, s"crc_checked on $nCrc of $rows rows")
    val planted = agg.getSeq[org.apache.spark.sql.Row](3)
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(planted.exists(p => p._3.startsWith("boundary row & marker > ok")
      && p._2 == 2), s"boundary row lost: $planted")
    assert(planted.contains((rows, 2, "the last row")), s"got $planted")

    done = true
    val deltaMiB = (peak - baseline) / (1 << 20)
    info(s"peak used-heap delta $deltaMiB MiB over a " +
      s"${unpacked / (1 << 20)} MiB member")
    assert(peak - baseline < (1536L << 20),
      s"heap delta $deltaMiB MiB suggests O(member) materialization")

    assert(f.delete())
  }
}
