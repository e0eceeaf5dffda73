package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AudioHeaders, ImageHeaders, VideoHeaders}
import graft.streaming.Pipelines

/** End-to-end media triage over the streaming file source: a directory of
  * mixed binary payloads classified per micro-batch by the native header
  * expressions; unknown payloads are routed, not dropped.
  */
class MediaTriageStreamSpec extends AnyFunSuite with LocalSpark {

  test("mixed-directory ingest triages by container and keeps unknowns") {
    val dir = Files.createTempDirectory("media_triage").toFile
    val body = "payload-bytes".getBytes
    Files.write(new java.io.File(dir, "a.png").toPath,
      ImageHeaders.buildPng(640, 360, body))
    Files.write(new java.io.File(dir, "b.jpg").toPath,
      ImageHeaders.buildJpeg(1920, 1080, body))
    Files.write(new java.io.File(dir, "c.wav").toPath,
      AudioHeaders.buildWav(2, 16000, 16, new Array[Byte](64000))) // 1 s stereo
    Files.write(new java.io.File(dir, "d.mp4").toPath,
      VideoHeaders.buildMp4("isom", 1000, 2500, body)) // 2.5 s
    Files.write(new java.io.File(dir, "e.txt").toPath,
      "just some text that is no container".getBytes)
    // decodable bodies: a 2x2 white 24-bit BMP and a tiny square-wave PCM
    Files.write(new java.io.File(dir, "f.bmp").toPath,
      ImageHeaders.buildBmp24(2, 2, topDown = false)((_, _) => (255, 255, 255)))
    val square = Array.tabulate[Byte](100)(i => if (i % 2 == 0) 0 else -1) // 0x00/0xff
    Files.write(new java.io.File(dir, "g.wav").toPath,
      AudioHeaders.buildWav(1, 8000, 8, square))
    // entropy-coded bodies that decode for REAL: an all-gray-100 4x4 PNG
    // (luma (77+150+29)*100>>8 = 100 per px), a 2-px 2-color GIF, and an
    // 8x8 constant-64 grayscale JPEG
    Files.write(new java.io.File(dir, "h.png").toPath,
      ImageHeaders.buildPngRgb(4, 4, _ % 5)((_, _) => (100, 100, 100)))
    Files.write(new java.io.File(dir, "i.gif").toPath,
      graft.functions.GifCodec.buildGif(2, 1,
        Array((255, 255, 255), (0, 0, 0)), Array(0, 1)))
    Files.write(new java.io.File(dir, "j.jpg").toPath,
      graft.functions.JpegCodec.buildJpegGray(8, 8)((_, _) => 64))
    // a WebM skeleton: EBML walk must classify it video with dims+duration
    Files.write(new java.io.File(dir, "k.webm").toPath,
      graft.functions.Mkv.buildMkv("webm", 1000000L, 1500L, Seq(
        graft.functions.Mkv.MkvTrackSpec(1, "video", "V_VP9",
          width = 640, height = 360),
        graft.functions.Mkv.MkvTrackSpec(2, "audio", "A_OPUS",
          channels = 2, rate = 48000))))
    // archive containers classify by magic, without a full walk
    Files.write(new java.io.File(dir, "l.zip").toPath,
      graft.functions.Archives.buildZip(Seq(("x", "y".getBytes, false))))
    Files.write(new java.io.File(dir, "m.tar").toPath,
      graft.functions.Archives.buildTar(Seq(("x", "0", "y".getBytes))))
    Files.write(new java.io.File(dir, "n.warc").toPath,
      graft.functions.Warc.build(Seq(("warcinfo", null, null, "z".getBytes))))
    Files.write(new java.io.File(dir, "o.warc.gz").toPath,
      graft.functions.Warc.buildGz(Seq(("warcinfo", null, null, "z".getBytes))))
    Files.write(new java.io.File(dir, "p.ts").toPath,
      graft.functions.MpegTs.patPacket(1, 32))
    // a FLAC payload: triage classifies from STREAMINFO, and since round 9
    // the pcm stats come from a REAL frame decode (peak 4000, no clipping)
    Files.write(new java.io.File(dir, "q.flac").toPath,
      graft.functions.FlacCodec.encode(1, 8000, 16,
        Array(Array.tabulate(400)(i => if (i % 2 == 0) 4000 else -4000)), 128))

    val q = Pipelines.mediaTriageStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("triage")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("triage").collect().map { r =>
      val name = r.getString(0).split('/').last
      name -> (r.getString(2), if (r.isNullAt(3)) null else r.getString(3),
        if (r.isNullAt(4)) null else r.getInt(4),
        if (r.isNullAt(7)) -1L else r.getLong(7))
    }.toMap
    assert(rows.keySet == Set("a.png", "b.jpg", "c.wav", "d.mp4", "e.txt",
      "f.bmp", "g.wav", "h.png", "i.gif", "j.jpg", "k.webm",
      "l.zip", "m.tar", "n.warc", "o.warc.gz", "p.ts", "q.flac"))
    assert(rows("q.flac") == (("audio", "flac", null, 50000L))) // 400/8000 s
    assert(rows("l.zip") == (("archive", "zip", null, -1L)))
    assert(rows("m.tar") == (("archive", "tar", null, -1L)))
    assert(rows("n.warc") == (("archive", "warc", null, -1L)))
    assert(rows("o.warc.gz") == (("archive", "gz", null, -1L)))
    assert(rows("p.ts") == (("archive", "mpegts", null, -1L)))
    assert(rows("k.webm") == (("video", "mkv", 640, 1500000L)))
    assert(rows("h.png") == (("image", "png", 4, -1L)))
    assert(rows("i.gif") == (("image", "gif", 2, -1L)))
    assert(rows("j.jpg") == (("image", "jpeg", 8, -1L)))
    assert(rows("a.png") == (("image", "png", 640, -1L)))
    assert(rows("b.jpg") == (("image", "jpeg", 1920, -1L)))
    assert(rows("c.wav") == (("audio", "wav", null, 1000000L)))
    assert(rows("d.mp4") == (("video", "isom", null, 2500000L)))
    assert(rows("e.txt") == (("unknown", null, null, -1L)))

    // real body decodes surface alongside the headers: all-white 2x2 BMP
    // lumas sum to 4*255; the 8-bit square wave is 100% full-scale
    val decoded = spark.table("triage").collect().map { r =>
      val name = r.getString(0).split('/').last
      name -> (if (r.isNullAt(8)) -1L else r.getLong(8),
        if (r.isNullAt(9)) -1 else r.getInt(9),
        if (r.isNullAt(10)) -1L else r.getLong(10))
    }.toMap
    assert(decoded("f.bmp") == ((4L * 255, -1, -1L)))
    assert(decoded("g.wav") == ((-1L, 128, 100L)))
    // entropy-coded images decode through the real inflate/LZW/Huffman paths
    assert(decoded("h.png") == ((16L * 100, -1, -1L)))
    assert(decoded("i.gif") == ((255L, -1, -1L))) // white px luma 255, black 0
    assert(decoded("j.jpg") == ((64L * 64, -1, -1L)))
    assert(decoded("c.wav") == ((-1L, 0, 0L))) // all-zero PCM: silent, no clip
    assert(decoded("e.txt") == ((-1L, -1, -1L)))
    // FLAC pcm stats come from the real frame decode, not STREAMINFO
    assert(decoded("q.flac") == ((-1L, 4000, 0L)))
  }

  test("mjpegFrameStream decodes every MJPEG track sample to exact pixel " +
      "stats; non-BMFF files drop out at the explode") {
    import graft.functions.{JpegCodec, VideoHeaders}
    import graft.functions.VideoHeaders.TrackSpec
    val dir = Files.createTempDirectory("mjpeg_stream").toFile
    // two MJPEG MP4s with known block-constant frames + one junk file
    def mjpeg(id: Long, nv: Int, w: Int, h: Int): Array[Byte] = {
      val frames = Array.tabulate(nv)(s =>
        JpegCodec.buildJpegGray(w, h)((x, y) =>
          ((id * 23 + s * 17 + 41 * (x / 8) + 97 * (y / 8)) % 256).toInt))
      VideoHeaders.buildMp4TracksWithData("isom", 1000,
        Seq(TrackSpec(1, "vide", "jpeg", w, h, 90000,
          frames.map(_.length), 3000, 2)), Seq(frames))
    }
    Files.write(new java.io.File(dir, "v1.mp4").toPath, mjpeg(7L, 3, 16, 8))
    Files.write(new java.io.File(dir, "v2.mp4").toPath, mjpeg(11L, 2, 8, 16))
    Files.write(new java.io.File(dir, "junk.bin").toPath,
      "no container here".getBytes)

    val q = Pipelines.mjpegFrameStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("mjpeg_frames")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("mjpeg_frames").collect().map { r =>
      (r.getString(0).split('/').last, r.getInt(2)) ->
        (r.getInt(4), r.getInt(5), r.getLong(7))
    }.toMap
    // per-frame luma (gray): sum over pixels of (77g+150g+29g)/256 with
    // g block-constant = the generator formula — recompute exactly
    def lumaSum(id: Long, s: Int, w: Int, h: Int): Long =
      (for (x <- 0 until w; y <- 0 until h) yield {
        val g = (id * 23 + s * 17 + 41 * (x / 8) + 97 * (y / 8)) % 256
        (77 * g + 150 * g + 29 * g) / 256
      }).sum
    assert(rows.keySet == Set(("v1.mp4", 0), ("v1.mp4", 1), ("v1.mp4", 2),
      ("v2.mp4", 0), ("v2.mp4", 1)))
    for (s <- 0 until 3)
      assert(rows(("v1.mp4", s)) == ((16, 8, lumaSum(7L, s, 16, 8))))
    for (s <- 0 until 2)
      assert(rows(("v2.mp4", s)) == ((8, 16, lumaSum(11L, s, 8, 16))))
  }
}
