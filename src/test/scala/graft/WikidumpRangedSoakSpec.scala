package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Bzip2
import graft.sources.RangedBz2
import graft.streaming.Pipelines

/** Multi-GB soak for the no-column dump surface: a synthetic
  * multistream `.xml.bz2` PAST THE 2 GB binary-column limit — the size
  * class `binaryFile` cannot even load, where `content`-column readers
  * stop being an option at all. The fixture is built in O(stream)
  * memory itself: one pre-encoded FILLER stream tiled ~700×, with
  * three UNIQUE page streams planted at the start, STRADDLING the
  * 2^31-byte boundary, and at the end, and the published-format index
  * written alongside (offsets tracked during the tile-out, the same
  * way [[Pipelines.wikidumpSink]] tracks its stream positions).
  *
  * What it pins, against the file that cannot fit in a column:
  *  - [[RangedBz2.scanExtents]] walks all ~2.2 GiB through its fixed
  *    64 KiB buffer and finds EVERY stream — its extents match the
  *    written index's offsets exactly, with Long offsets past 2^31;
  *  - [[Pipelines.wikidumpFetch]] serves the six planted pages
  *    byte-exactly by range-reading THREE streams (one crossing the
  *    2^31 boundary), never scanning the dump;
  *  - used-heap high-water over the whole drive stays bounded FAR
  *    below the file size — O(stream), not O(file); whole-file
  *    materialization (2.2 GiB + copies) would blow the bound.
  */
class WikidumpRangedSoakSpec extends AnyFunSuite with LocalSpark {

  private val alpha = "abcdefghijklmnopqrstuvwxyzABCDEF0123456789+/ "

  private def randText(rnd: java.util.Random, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(alpha.charAt(rnd.nextInt(alpha.length))); i += 1 }
    sb.toString
  }

  private def page(id: Long, t: String, b: String): String =
    s"<page><title>$t</title><ns>0</ns><id>$id</id>" +
      s"<revision><id>1</id><text bytes=\"0\">$b</text></revision></page>"

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }

  test("a 2.2 GiB multistream dump: extent scan matches the index " +
      "past 2^31; fetch serves planted pages byte-exactly in O(stream) heap") {
    val dir = Files.createTempDirectory("ranged_soak").toFile
    val f = new java.io.File(dir, "big.xml.bz2")
    val rnd = new java.util.Random(0x50AF13L)

    // filler: ONE stream encoded once (~4 MiB of near-incompressible
    // text so the COMPRESSED tile is ~2.8 MiB), tiled out to size —
    // the builder never holds more than one stream either
    val filler = Bzip2.encode(
      (page(1, "F1", randText(rnd, 2 << 20)) +
        page(2, "F2", randText(rnd, 2 << 20))).getBytes("UTF-8"))
    // three unique streams: distinct ids, modest bodies
    val uniqueBodies = Seq(9001L, 9011L, 9021L).map { base =>
      (base, randText(rnd, 192 << 10), randText(rnd, 192 << 10))
    }
    val uniqueStreams = uniqueBodies.map { case (base, b1, b2) =>
      (base, Bzip2.encode(
        (page(base, s"U$base", b1) + page(base + 1, s"U${base + 1}", b2))
          .getBytes("UTF-8")))
    }
    val header = Bzip2.encode("<mediawiki><siteinfo/>".getBytes("UTF-8"))
    val footer = Bzip2.encode("</mediawiki>".getBytes("UTF-8"))

    val boundary = 1L << 31
    val target = boundary + (48L << 20) // 2 GiB + 48 MiB
    val idx = new StringBuilder
    var pos = 0L
    var fillers = 0
    var uniqueOffs = List.empty[(Long, Long)] // (first page id, off)
    val os = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(f), 1 << 20)
    def emit(bytes: Array[Byte]): Unit = { os.write(bytes); pos += bytes.length }
    def emitUnique(i: Int): Unit = {
      val (base, s) = uniqueStreams(i)
      uniqueOffs ::= (base, pos)
      idx.append(s"$pos:$base:U$base\n")
      idx.append(s"$pos:${base + 1}:U${base + 1}\n")
      emit(s)
    }
    val u1Len = uniqueStreams(1)._2.length.toLong
    var shims = 0
    def emitFiller(): Unit = {
      idx.append(s"$pos:1:F1\n").append(s"$pos:2:F2\n")
      emit(filler)
      fillers += 1
    }
    try {
      emit(header)
      emitUnique(0) // at the start
      // tile fillers up to the straddle window, then SHIM the last few
      // MiB so U1's extent genuinely crosses the 2^31 byte boundary —
      // filler steps (~3 MiB) would jump the ~¼ MiB window otherwise
      while (pos + filler.length <= boundary - u1Len) emitFiller()
      val gap = (boundary - u1Len / 2) - pos
      if (gap > 1024) {
        val shim = Bzip2.encode(
          page(3, "S1", randText(rnd, (gap / 0.7).toInt)).getBytes("UTF-8"))
        idx.append(s"$pos:3:S1\n")
        emit(shim)
        shims += 1
      }
      emitUnique(1) // straddles 2^31
      while (pos < target - footer.length - filler.length) emitFiller()
      emitUnique(2) // the last stream before the footer
      emit(footer)
    } finally os.close()
    val size = f.length
    assert(size > boundary, s"fixture must cross 2^31 bytes: $size")
    val u1Off = uniqueOffs.find(_._1 == 9011L).get._2
    assert(u1Off < boundary && u1Off + u1Len > boundary,
      s"U1 must straddle 2^31: off=$u1Off len=$u1Len")

    // heap high-water over scan + fetch: O(streams touched), never
    // O(file). 2 GiB of slack vs an 8 GiB ceiling is generous for GC
    // noise yet impossible to satisfy if anything materialized the
    // 2.2 GiB file (the byte[] alone would blow it).
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

    // 1) full extent scan: the 64 KiB-buffer walk over all 2.2 GiB
    //    must reproduce the written index's offsets exactly
    val conf = spark.sparkContext.hadoopConfiguration
    val exts = RangedBz2.scanExtents(conf, f.getAbsolutePath)
    assert(exts.length == fillers + shims + 5, // header+3 unique+footer
      s"extents=${exts.length} fillers=$fillers shims=$shims")
    assert(exts.last._2 > boundary, "last extent must start past 2^31")
    val idxOffs = idx.toString.linesIterator.map(_.split(":")(0).toLong).toSet
    val scanOffs = exts.map(_._2).toSet
    assert(idxOffs.subsetOf(scanOffs), "every indexed stream must be scanned")
    assert((scanOffs -- idxOffs) == Set(0L, size - footer.length),
      "scan may only add the header/footer framing streams")

    // 2) random-access fetch of the six planted pages: three range
    //    reads, one crossing the boundary, dump never scanned
    import spark.implicits._
    val idxDf = Pipelines.wikidumpIndexLines(
      Seq((f.getAbsolutePath,
        Bzip2.encode(idx.toString.getBytes("UTF-8"))))
        .toDF("path", "content"))
    val wanted = uniqueBodies.flatMap(u => Seq(u._1, u._1 + 1))
      .toDF("page_id")
    val got = Pipelines.wikidumpFetch(idxDf, wanted)
      .select(col("page_id"), col("title"), md5(col("text")).as("h"),
        col("ok"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getBoolean(3)))
      .toSet
    val want = uniqueBodies.flatMap { case (base, b1, b2) =>
      Seq((base, s"U$base", md5hex(b1), true),
        (base + 1, s"U${base + 1}", md5hex(b2), true))
    }.toSet
    assert(got == want, s"fetch mismatch: $got")

    done = true
    val deltaMiB = (peak - baseline) / (1 << 20)
    info(s"peak used-heap delta ${deltaMiB} MiB over a " +
      s"${size / (1 << 20)} MiB file")
    assert(peak - baseline < (2L << 30),
      s"heap delta ${deltaMiB} MiB suggests O(file) materialization")

    assert(f.delete())
  }
}
