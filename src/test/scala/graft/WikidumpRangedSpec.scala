package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Bzip2
import graft.sources.RangedBz2
import graft.streaming.Pipelines

/** The ranged dump reader against the column path: same files, same
  * rows — including every quarantine arm — because the extraction tail
  * is shared and the extent/readRange semantics mirror `bz2_extents`.
  * Plus the ranged-only postures: the signature scanner's carry across
  * its 64 KiB read buffer, the monolith cap (an extent past
  * `maxExtentBytes` quarantines instead of allocating), and an
  * unreadable path landing as a dead-letter row, not an exception. */
class WikidumpRangedSpec extends AnyFunSuite with LocalSpark {

  private def page(t: String, b: String): String =
    s"<page><title>$t</title><ns>0</ns><revision>" +
      s"<text bytes=\"0\">$b</text></revision></page>"

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("path", "stream", "page", "title", "text", "ok").collect()
      .map(r => Seq(
        r.getString(0).split('/').last, r.getInt(1).toString,
        r.getInt(2).toString,
        Option(r.getString(3)).getOrElse("-"),
        Option(r.getString(4)).getOrElse("-"),
        r.getBoolean(5).toString).mkString("|"))
      .toSet

  private def writeFixtures(dir: java.io.File): Unit = {
    // conforming multistream
    Files.write(new java.io.File(dir, "a.xml.bz2").toPath,
      Bzip2.encode("<mediawiki><siteinfo/>".getBytes) ++
        Bzip2.encode((page("A", "body a") + page("B", "body b")).getBytes) ++
        Bzip2.encode(page("C", "body c").getBytes) ++
        Bzip2.encode("</mediawiki>".getBytes))
    // torn middle stream: its extent alone quarantines
    Files.write(new java.io.File(dir, "b.xml.bz2").toPath,
      Bzip2.encode("<mediawiki>".getBytes) ++
        Bzip2.encode(page("T", "gone").getBytes).dropRight(6) ++
        Bzip2.encode((page("U", "kept") + "</mediawiki>").getBytes))
    // not bzip2 at all
    Files.write(new java.io.File(dir, "c.xml.bz2").toPath,
      "not a dump".getBytes)
    // decodes, zero pages
    Files.write(new java.io.File(dir, "d.xml.bz2").toPath,
      Bzip2.encode("<mediawiki><siteinfo/></mediawiki>".getBytes))
  }

  test("ranged reader == column reader, quarantine arms included") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ranged").toFile
    writeFixtures(dir)
    val paths = dir.listFiles.map(_.getAbsolutePath).toSeq.toDF("path")
    val ranged = rowSet(Pipelines.wikidumpPagesRanged(paths))
    val column = rowSet(Pipelines.wikidumpPages(spark.read
      .format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(dir.getAbsolutePath)))
    assert(ranged == column, "ranged and column readers drifted")
    assert(ranged.contains("a.xml.bz2|2|2|B|body b|true"))
    assert(ranged.contains("b.xml.bz2|2|-1|-|-|false"))
    assert(ranged.contains("b.xml.bz2|3|1|U|kept|true"))
    assert(ranged.contains("c.xml.bz2|-1|-1|-|-|false"))
    assert(ranged.contains("d.xml.bz2|1|0|-|-|true"))
  }

  test("monolith cap: an over-cap extent quarantines instead of allocating") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ranged_cap").toFile
    writeFixtures(dir)
    val paths = dir.listFiles.map(_.getAbsolutePath).toSeq.toDF("path")
    val capped = rowSet(Pipelines.wikidumpPagesRanged(paths, maxExtentBytes = 8))
    // every real extent exceeds 8 bytes -> all quarantine, but the
    // extent STRUCTURE (stream numbers) stays visible
    assert(capped.contains("a.xml.bz2|1|-1|-|-|false"))
    assert(capped.contains("a.xml.bz2|4|-1|-|-|false"))
    assert(!capped.exists(s => s.endsWith("|true")))
  }

  test("scanner carries the signature across its 64 KiB buffer boundary") {
    val dir = Files.createTempDirectory("ranged_scan").toFile
    val sig = "BZh1".getBytes ++
      Array[Byte](0x31, 0x41, 0x59, 0x26, 0x53, 0x59)
    // second signature STARTS 4 bytes before the 64 KiB buffer edge, so
    // its tail lands in the next read: only the 9-byte carry finds it
    val at = 64 * 1024 - 4
    val bytes = new Array[Byte](at + sig.length + 100)
    System.arraycopy(sig, 0, bytes, 0, sig.length)
    System.arraycopy(sig, 0, bytes, at, sig.length)
    val f = new java.io.File(dir, "straddle.bz2")
    Files.write(f.toPath, bytes)
    val exts = RangedBz2.scanExtents(
      new org.apache.hadoop.conf.Configuration(), f.getAbsolutePath)
    assert(exts == Seq((1, 0L, at.toLong),
      (2, at.toLong, (sig.length + 100).toLong)))
  }

  test("unreadable path is a dead-letter row, not an exception") {
    import spark.implicits._
    val rows = rowSet(Pipelines.wikidumpPagesRanged(
      Seq("/nonexistent/nowhere.xml.bz2").toDF("path")))
    assert(rows == Set("nowhere.xml.bz2|-1|-1|-|-|false"))
  }
}
