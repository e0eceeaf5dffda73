package graft

import java.io.RandomAccessFile
import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SevenZip, Warc, Zstandard}
import graft.streaming.Pipelines

/** Streaming twins of the RANGED readers: dumps landing in a watched
  * directory ingest through the same slice machinery the batch path
  * uses, with only LISTING rows on the stream. The decisive arm is a
  * SPARSE 3 GB file: the binaryFile source throws past its 2 GB
  * binary-column bound if it ever reads content, so the stream
  * surviving it (and routing it as a quarantine row) PROVES the
  * content column is pruned before any read — the property that lets
  * monoliths land in a watch dir at all. */
class RangedStreamSpec extends AnyFunSuite with LocalSpark {

  test("ranged sedump stream == batch; a sparse 3 GB non-dump routes " +
      "instead of tripping the 2 GB content bound") {
    import spark.implicits._
    val dir = Files.createTempDirectory("r7z_stream").toFile
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    val xml = """<?xml version="1.0"?><posts>""" +
      s"""<row Id="1" PostTypeId="1" Body="${esc("<p>ranged &amp; streamed</p>")}" />""" +
      "</posts>"
    val good = SevenZip.build(Seq(("Posts.xml", xml.getBytes("UTF-8"))),
      coderFor = _ => 1)
    Files.write(new java.io.File(dir, "a.7z").toPath, good)
    Files.write(new java.io.File(dir, "torn.7z").toPath, good.dropRight(4))
    // sparse 3 GB of zeros: instant to create, fatal to any reader
    // that materializes content, a clean quarantine for the header scan
    val huge = new RandomAccessFile(new java.io.File(dir, "huge.7z"), "rw")
    try huge.setLength(3L << 30) finally huge.close()

    val q = Pipelines.sedumpPostsRangedStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("r7z_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val got = spark.table("r7z_stream")
      .select("path", "post_id", "text", "ok").collect()
      .map(r => (r.getString(0).split('/').last,
        if (r.isNullAt(1)) -1L else r.getLong(1),
        Option(r.getString(2)).orNull, r.getBoolean(3))).toSet
    assert(got == Set(
      ("a.7z", 1L, "ranged & streamed", true),
      ("torn.7z", -1L, null, false),
      ("huge.7z", -1L, null, false)), s"got $got")

    // parity with the batch ranged path on the same directory
    val batch = Pipelines.sedumpPostsRanged(
        Seq("a.7z", "torn.7z", "huge.7z")
          .map(n => new java.io.File(dir, n).getAbsolutePath).toDF("path"))
      .select("path", "post_id", "text", "ok").collect()
      .map(r => (r.getString(0).split('/').last,
        if (r.isNullAt(1)) -1L else r.getLong(1),
        Option(r.getString(2)).orNull, r.getBoolean(3))).toSet
    assert(batch == got, s"stream $got vs batch $batch")
  }

  test("ranged warc.zst stream == batch, dictionary frames included") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rzst_stream").toFile
    val boiler = "shared boilerplate header | " * 4
    val ps = (0 until 300).map(i => s"$boiler body $i".getBytes("UTF-8"))
    val dict = Zstandard.trainDictionary(ps, 1 << 10)
    Pipelines.warcZstSink(
      Seq(("http://s.example/d", "2024-01-01T00:00:00Z", ps.head))
        .toDF("uri", "date", "payload").repartition(1),
      dir.getAbsolutePath, dict = Some(dict))
    val f1 = Zstandard.encode(Warc.build(Seq(
      ("response", "http://s.example/p1", "2024-01-01T00:00:00Z",
        "plain one".getBytes("UTF-8")))))
    Files.write(new java.io.File(dir, "plain.warc.zst").toPath, f1)

    val q = Pipelines.warcZstRangedStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("rzst_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val got = spark.table("rzst_stream")
      .select("path", "uri", "ok").collect()
      .map(r => (r.getString(0).split('/').last,
        Option(r.getString(1)).orNull, r.getBoolean(2))).toSet
    assert(got == Set(
      ("part-00000.warc.zst", "http://s.example/d", true),
      ("plain.warc.zst", "http://s.example/p1", true)), s"got $got")
  }
}
