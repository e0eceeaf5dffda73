package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Warc, Zstandard}
import graft.streaming.Pipelines

/** `.warc.zst` sink wire shape, beyond the x264 round-trip gate: the
  * file LEADS with a skippable frame (the dictionary-slot convention),
  * the whole-payload decoder reads straight through it, and the extent
  * walk cuts exactly one data frame per record with the skippable
  * dropped. */
class WarcZstSinkSpec extends AnyFunSuite with LocalSpark {

  test("leading skippable frame, frame-per-record extents, whole decode") {
    import spark.implicits._
    val dir = Files.createTempDirectory("warczst").toFile
    val recs = Seq(
      ("http://a.example/1", "2024-01-01T00:00:00Z",
        "alpha body".getBytes("UTF-8")),
      ("http://a.example/2", "2024-01-01T00:00:00Z",
        "beta body with magic (µ/ý inside".getBytes("ISO-8859-1")),
      ("http://a.example/3", "2024-01-01T00:00:00Z",
        "gamma".getBytes("UTF-8")))
    Pipelines.warcZstSink(
      recs.toDF("uri", "date", "payload").repartition(1), dir.getAbsolutePath)
    val files = dir.listFiles.filter(_.getName.endsWith(".warc.zst"))
    assert(files.length == 1)
    val bytes = Files.readAllBytes(files.head.toPath)
    // wire shape: skippable magic 0x184D2A50 LE first
    assert((bytes(0) & 0xF0) == 0x50 && bytes(1) == 0x2A.toByte &&
      bytes(2) == 0x4D.toByte && bytes(3) == 0x18.toByte,
      "file must lead with a skippable frame")
    // whole-payload decode walks through the skippable and yields every
    // record back-to-back
    val whole = Zstandard.decode(bytes)
    val parsed = Warc.parse(whole)
    assert(parsed.map(_._2).toSeq ==
      recs.map(_._1), s"whole-decode uris: ${parsed.map(_._2).toSeq}")
    // extents: one DATA frame per record, skippable dropped — and the
    // middle record's payload CONTAINS the zstd magic bytes, which a
    // magic-scan splitter would trip over
    val exts = Zstandard.frameExtents(bytes)
    assert(exts.length == recs.length, s"extents: ${exts.toSeq}")
    for (((off, len), want) <- exts.zip(recs)) {
      val one = Warc.parse(Zstandard.decode(
        java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt)))
      assert(one.length == 1 && one.head._2 == want._1)
      assert(java.util.Arrays.equals(one.head._5, want._3), want._1)
    }
  }
}
