package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Zstandard
import graft.streaming.Pipelines

/** The IIPC `.warc.zst` DICTIONARY convention, honesty arms beyond the
  * x265 round-trip gate: the dictionary must be LOAD-BEARING (frames
  * null-route without it), the 0x184D2A5D magic must be pinned (a
  * plain 0x…50 skippable is NOT a dictionary), and a dictionary that
  * itself ships zstd-compressed must decode transparently. */
class WarcZstDictSpec extends AnyFunSuite with LocalSpark {

  private val boiler =
    "Header: corpus boilerplate shared across every record payload | " +
      "<!doctype html><html><head><title>t</title></head><body>"

  private def payloads(n: Int): Seq[Array[Byte]] =
    (0 until n).map(i => s"$boiler doc $i body</body></html>"
      .getBytes("UTF-8"))

  test("dictionary frames: load-bearing dict, pinned magic, round trip") {
    import spark.implicits._
    val ps = payloads(300)
    val dict = Zstandard.trainDictionary(ps, 2 << 10)
    assert(dict != null && dict.length > 0)

    val dir = Files.createTempDirectory("warczst_dict").toFile
    val recs = ps.zipWithIndex.map { case (p, i) =>
      (s"http://d$i.example/p", "2024-01-01T00:00:00Z", p)
    }
    Pipelines.warcZstSink(
      recs.toDF("uri", "date", "payload").repartition(1),
      dir.getAbsolutePath, dict = Some(dict))
    val f = dir.listFiles.filter(_.getName.endsWith(".warc.zst")).head
    val bytes = Files.readAllBytes(f.toPath)

    // pinned dictionary magic 0x184D2A5D, and the dictionary lifts out
    assert(bytes(0) == 0x5D.toByte && bytes(1) == 0x2A.toByte &&
      bytes(2) == 0x4D.toByte && bytes(3) == 0x18.toByte)
    assert(java.util.Arrays.equals(Zstandard.leadingDictionary(bytes), dict))
    // a plain 0x…50 skippable lead is NOT a dictionary
    val plain = bytes.clone(); plain(0) = 0x50.toByte
    assert(Zstandard.leadingDictionary(plain) == null)

    // the dictionary is LOAD-BEARING: without it every record frame
    // null-routes, with it each frame serves exactly one record
    val exts = Zstandard.frameExtents(bytes)
    assert(exts.length == recs.length)
    val (off0, len0) = exts.head
    val frame0 = java.util.Arrays.copyOfRange(
      bytes, off0.toInt, (off0 + len0).toInt)
    assert(Zstandard.decode(frame0) == null,
      "a dictionary-referencing frame must not decode without the dict")
    assert(Zstandard.decodeWithDict(frame0, dict) != null)
    // and a WRONG dictionary must not serve wrong bytes
    val wrong = Zstandard.trainDictionary(
      (0 until 300).map(i => s"unrelated content $i, nothing shared at all"
        .getBytes("UTF-8")), 2 << 10)
    assert(Zstandard.decodeWithDict(frame0, wrong) == null,
      "a frame must null-route under a different dictionary")

    // the full read surface round-trips
    val got = Pipelines.warcZstRecords(
        Seq((f.getAbsolutePath, bytes)).toDF("path", "content"))
      .select("uri", "payload", "ok").collect()
      .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), "UTF-8"),
        r.getBoolean(2))).toSet
    assert(got == recs.map(r => (r._1, new String(r._3, "UTF-8"), true)).toSet)
  }

  test("a zstd-compressed dictionary in the frame decodes transparently") {
    val ps = payloads(300)
    val dict = Zstandard.trainDictionary(ps, 2 << 10)
    val packed = Zstandard.encode(dict) // the spec allows this form
    val framed = Array[Byte](0x5D, 0x2A, 0x4D, 0x18,
      (packed.length & 0xFF).toByte, ((packed.length >> 8) & 0xFF).toByte,
      ((packed.length >> 16) & 0xFF).toByte,
      ((packed.length >> 24) & 0xFF).toByte) ++ packed ++
      Zstandard.encodeWithDict("one record".getBytes("UTF-8"), dict)
    assert(java.util.Arrays.equals(Zstandard.leadingDictionary(framed), dict))
  }
}
