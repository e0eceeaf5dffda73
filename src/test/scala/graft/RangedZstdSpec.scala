package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Warc, Zstandard}
import graft.streaming.Pipelines

/** The ranged `.warc.zst` reader vs the bounded column path: extents
  * from the streaming block-header walk must equal the column path's
  * `frameExtents`, records must agree row-for-row (plain AND
  * dictionary-referencing frames), and damage must route the same way
  * (not-zstd → one frame = -1 row; a torn tail → the failing last
  * extent; a frame past the range cap → null-decode dead letter). */
class RangedZstdSpec extends AnyFunSuite with LocalSpark {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def write(dir: String, name: String, b: Array[Byte]): String = {
    val p = java.nio.file.Paths.get(dir, name)
    Files.write(p, b)
    p.toString
  }

  private def recSet(df: org.apache.spark.sql.DataFrame) =
    df.select("path", "frame", "uri", "payload", "ok").collect()
      .map(r => (r.getString(0).stripPrefix("file:"), r.getInt(1),
        Option(r.getString(2)).orNull,
        Option(r.getAs[Array[Byte]]("payload"))
          .map(new String(_, "UTF-8")).orNull,
        r.getBoolean(4)))
      .toSet

  private def warcZst(n: Int, dict: Option[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    dict.foreach { d =>
      val packed = Zstandard.encode(d)
      out.write(Array[Byte](0x5D, 0x2A, 0x4D, 0x18.toByte))
      out.write(Array[Byte]((packed.length & 0xFF).toByte,
        ((packed.length >> 8) & 0xFF).toByte,
        ((packed.length >> 16) & 0xFF).toByte,
        ((packed.length >> 24) & 0xFF).toByte))
      out.write(packed)
    }
    (1 to n).foreach { i =>
      val rec = Warc.build(Seq(("response", s"http://r$i.example/x",
        "2024-01-01T00:00:00Z", s"payload $i body".getBytes("UTF-8"))))
      out.write(dict match {
        case Some(d) => Zstandard.encodeWithDict(rec, d)
        case None => Zstandard.encode(rec)
      })
    }
    out.toByteArray
  }

  test("ranged and bounded ingest agree row-for-row, plain and " +
      "dictionary frames; extents match frameExtents") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("rzst_parity").toString
    val plain = warcZst(40, None)
    val dictBytes = Zstandard.trainDictionary(
      (1 to 64).map(i => s"payload $i body common tail".getBytes("UTF-8")),
      4 << 10)
    val dicted = warcZst(40, Some(dictBytes))
    val pp = write(tmp, "plain.warc.zst", plain)
    val pd = write(tmp, "dict.warc.zst", dicted)

    val ranged = recSet(Pipelines.warcZstRanged(Seq(pp, pd).toDF("path")))
    val bounded = recSet(Pipelines.warcZstRecords(
      Seq((pp, plain), (pd, dicted)).toDF("path", "content")))
    assert(ranged == bounded,
      s"diff: ${(ranged -- bounded).take(3)} / ${(bounded -- ranged).take(3)}")
    assert(ranged.count(_._5) == 80)

    // the walk's extents == the column path's frameExtents, both files
    import graft.sources.RangedZstd
    Seq((pp, plain), (pd, dicted)).foreach { case (p, bytes) =>
      val e = RangedZstd.scanExtents(conf, p)
      assert(e.frames == Zstandard.frameExtents(bytes).toSeq, p)
    }
    // and the dictionary slot is only reported where it exists
    assert(RangedZstd.scanExtents(conf, pp).dictLen < 0)
    assert(RangedZstd.scanExtents(conf, pd).dictLen > 0)
  }

  test("routing parity: not-zstd, torn tail, over-cap frame") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("rzst_route").toString
    val notZst = write(tmp, "not.warc.zst",
      "plainly not zstd".getBytes("UTF-8"))
    val good = warcZst(5, None)
    val torn = write(tmp, "torn.warc.zst", good.dropRight(4))
    val paths = Seq(notZst, torn).toDF("path")
    val got = recSet(Pipelines.warcZstRanged(paths))
    // not-zstd: one frame=-1 quarantine row (the column path's shape)
    assert(got.count(t => t._1 == notZst && t._2 == -1 && !t._5) == 1)
    assert(!got.exists(t => t._1 == notZst && t._5))
    // torn: the intact leading frames serve; the tail dead-letters
    assert(got.count(t => t._1 == torn && t._5) == 4)
    assert(got.count(t => t._1 == torn && !t._5) == 1)
    // a frame past the cap null-decodes to a dead letter, others serve
    val capped = recSet(Pipelines.warcZstRanged(
      Seq(write(tmp, "cap.warc.zst", good)).toDF("path"),
      maxFrameBytes = good.length / 5 - 8))
    assert(capped.exists(!_._5) && !capped.exists(t => t._5 && t._2 == 1))
  }

  test("crc_checked: a checksum-bearing frame that decoded is " +
      "verified output (true); a checksum-free frame and a routed " +
      "row are false") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("rzst_crc").toString
    // the fixture encoder sets the content checksum → all true
    val p = write(tmp, "sum.warc.zst", warcZst(5, None))
    val got = Pipelines.warcZstRanged(Seq(p).toDF("path"))
      .select("ok", "crc_checked").collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)))
    assert(got.length == 5 && got.forall(_ == ((true, true))), got.toSeq)
    // strip the checksum flag + trailing XXH64 from one frame: the
    // frame still decodes but is unverified → crc_checked false
    val rec = Warc.build(Seq(("response", "http://b.example/x",
      "2024-01-01T00:00:00Z", "bare body".getBytes("UTF-8"))))
    val noSum = {
      val f = Zstandard.encode(rec)
      assert((f(4) & 0x04) != 0, "fixture encoder must set the flag")
      val out = f.dropRight(4) // checksum trailer: 4 bytes (RFC 8878)
      out(4) = (out(4) & ~0x04).toByte
      out
    }
    val pb = write(tmp, "bare.warc.zst", noSum)
    val gb = Pipelines.warcZstRanged(Seq(pb).toDF("path"))
      .select("ok", "crc_checked").collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)))
    assert(gb.toSeq == Seq((true, false)), gb.toSeq)
    // routed (not zstd at all) → false
    val pn = write(tmp, "not.warc.zst", "nope".getBytes("UTF-8"))
    val gn = Pipelines.warcZstRanged(Seq(pn).toDF("path"))
      .select("ok", "crc_checked").collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)))
    assert(gn.toSeq == Seq((false, false)), gn.toSeq)
  }

  test("a file with ONLY a leading skippable frame (no data frames) " +
      "routes one frame = -1 row — parity with the bounded path") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("rzst_skiponly").toString
    val bytes = warcZst(0, Some("just a dictionary".getBytes("UTF-8")))
    val p = write(tmp, "skiponly.warc.zst", bytes)
    val ranged = recSet(Pipelines.warcZstRanged(Seq(p).toDF("path")))
    val bounded = recSet(Pipelines.warcZstRecords(
      Seq((p, bytes)).toDF("path", "content")))
    assert(ranged == bounded, s"ranged $ranged vs bounded $bounded")
    assert(ranged == Set((p, -1, null, null, false)), s"got $ranged")
  }

  test("block-shape coverage: RLE and raw blocks walk correctly " +
      "(highly repetitive + incompressible payloads)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("rzst_blocks").toString
    val rnd = new scala.util.Random(7)
    val out = new java.io.ByteArrayOutputStream()
    val recs = Seq(
      ("http://rle.example/x", Array.fill[Byte](200000)('a')), // RLE-ish
      ("http://raw.example/x", Array.fill[Byte](200000)(0).map(
        _ => rnd.nextInt().toByte)), // incompressible → raw blocks
      ("http://mix.example/x", ("text " * 4000).getBytes("UTF-8")))
    recs.foreach { case (uri, payload) =>
      out.write(Zstandard.encode(Warc.build(Seq(
        ("response", uri, "2024-01-01T00:00:00Z", payload)))))
    }
    val p = write(tmp, "blocks.warc.zst", out.toByteArray)
    val got = Pipelines.warcZstRanged(Seq(p).toDF("path"))
      .where(col("ok"))
      .select(col("uri"), length(col("payload")).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == recs.map { case (u, b) => (u, b.length.toLong) }.toSet,
      s"got $got")
  }
}
