package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SevenZip, Warc, Zstandard}
import graft.streaming.Pipelines

/** Streaming twins of the round-13 ingest surfaces: `.7z` SE-style
  * dumps and `.warc.zst` crawls landing in watched directories must
  * emit rows equal to a batch replay of the same projection —
  * including the quarantine rows, the filter-chained folders, and the
  * dictionary-referencing frames. */
class SedumpWarcStreamSpec extends AnyFunSuite with LocalSpark {

  test("sedump stream == batch: posts, chained folder, torn container") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sedump_stream").toFile
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    val xml = """<?xml version="1.0"?><posts>""" +
      s"""<row Id="1" PostTypeId="1" Body="${esc("<p>streamed &amp; batched</p>")}" />""" +
      "</posts>"
    val plain = SevenZip.build(Seq(("Posts.xml", xml.getBytes("UTF-8"))))
    val chained = SevenZip.build(Seq(("Posts.xml", xml.getBytes("UTF-8"))),
      chainFor = _ => Some((0x04L, Array.empty[Byte])))
    Files.write(new java.io.File(dir, "a.7z").toPath, plain)
    Files.write(new java.io.File(dir, "b.7z").toPath, chained)
    Files.write(new java.io.File(dir, "torn.7z").toPath, plain.dropRight(4))

    val q = Pipelines.sedumpPostsStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("sedump_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("sedump_stream")
      .select("path", "post_id", "text", "ok").collect()
      .map(r => (r.getString(0).split('/').last,
        if (r.isNullAt(1)) -1L else r.getLong(1),
        Option(r.getString(2)).orNull, r.getBoolean(3))).toSet
    assert(got == Set(
      ("a.7z", 1L, "streamed & batched", true),
      ("b.7z", 1L, "streamed & batched", true),
      ("torn.7z", -1L, null, false)), s"got $got")
  }

  test("warc.zst stream == batch: plain, dictionary, torn tail") {
    import spark.implicits._
    val dir = Files.createTempDirectory("warczst_stream").toFile
    val boiler = "shared boilerplate header | " * 4
    val ps = (0 until 300).map(i =>
      s"$boiler body $i".getBytes("UTF-8"))
    val dict = Zstandard.trainDictionary(ps, 1 << 10)

    // dictionary file via the sink itself
    Pipelines.warcZstSink(
      Seq(("http://s.example/d", "2024-01-01T00:00:00Z", ps.head))
        .toDF("uri", "date", "payload").repartition(1),
      dir.getAbsolutePath, dict = Some(dict))
    // plain file + a torn tail, hand-framed
    val f1 = Zstandard.encode(Warc.build(Seq(
      ("response", "http://s.example/p1", "2024-01-01T00:00:00Z",
        "plain one".getBytes("UTF-8")))))
    val f2 = Zstandard.encode(Warc.build(Seq(
      ("response", "http://s.example/p2", "2024-01-01T00:00:00Z",
        "plain two".getBytes("UTF-8")))))
    Files.write(new java.io.File(dir, "plain.warc.zst").toPath,
      f1 ++ f2.dropRight(5))

    val q = Pipelines.warcZstStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("warczst_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("warczst_stream")
      .select("path", "uri", "ok").collect()
      .map(r => (r.getString(0).split('/').last,
        Option(r.getString(1)).orNull, r.getBoolean(2))).toSet
    assert(got == Set(
      ("part-00000.warc.zst", "http://s.example/d", true),
      ("plain.warc.zst", "http://s.example/p1", true),
      ("plain.warc.zst", null, false)), s"got $got") // the torn frame routes
  }
}
