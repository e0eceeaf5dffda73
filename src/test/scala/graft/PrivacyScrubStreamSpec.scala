package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Exif, JpegCodec}
import graft.streaming.Pipelines

/** The image-PII privacy gate under the streaming file source — the SAME
  * `privacyScrub` projection the batch gate (x158) runs, proven here
  * end-to-end over a watched directory: GPS-bearing JPEGs are emitted
  * scrubbed with pixels intact, GPS-free payloads pass through
  * byte-identical, and unscrubbable GPS-bearing TIFFs are quarantined
  * (content null, flag set). */
class PrivacyScrubStreamSpec extends AnyFunSuite with LocalSpark {

  test("watched directory: scrub, pass-through, quarantine") {
    val dir = Files.createTempDirectory("privacy_scrub").toFile
    val tiffGps = Exif.buildTiff(littleEndian = true, orientation = 3,
      make = "M", model = "N", datetime = "2024:01:01 00:00:00", iso = 200,
      lat = Exif.Dms(positive = true, 10, 20, 300, 100),
      lon = Exif.Dms(positive = false, 30, 40, 500, 100))
    val jpeg = JpegCodec.buildJpegGray(16, 16)((x, y) => (x * 11 + y * 5) % 256)
    val tagged = Exif.spliceApp1(jpeg, Exif.app1(tiffGps))
    Files.write(new java.io.File(dir, "gps.jpg").toPath, tagged)
    Files.write(new java.io.File(dir, "plain.jpg").toPath, jpeg)
    Files.write(new java.io.File(dir, "gps.tiff").toPath, tiffGps)

    val q = Pipelines.privacyScrubStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("privacy")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("privacy").collect().map { r =>
      r.getString(0).split('/').last ->
        (r.getBoolean(2), r.getBoolean(3),
          if (r.isNullAt(4)) null else Boolean.box(r.getBoolean(4)),
          if (r.isNullAt(5)) null else r.getAs[Array[Byte]](5))
    }.toMap
    assert(rows.keySet == Set("gps.jpg", "plain.jpg", "gps.tiff"))

    val (hadGps, q1, after, clean) = rows("gps.jpg")
    assert(hadGps && !q1 && after == Boolean.box(false) && clean != null)
    assert(clean.length < tagged.length)
    // the emitted bytes carry no GPS but identical pixels
    val p = Exif.parse(clean)
    assert(p != null && !p.hasGps && p.make == "M" && p.iso == 200)
    assert(JpegCodec.parseJpegPixels(clean) == JpegCodec.parseJpegPixels(jpeg))

    val (h2, q2, a2, c2) = rows("plain.jpg")
    assert(!h2 && !q2 && a2 == Boolean.box(false))
    assert(java.util.Arrays.equals(c2, jpeg)) // byte-identical pass-through

    val (h3, q3, a3, c3) = rows("gps.tiff")
    assert(h3 && q3 && a3 == null && c3 == null) // quarantined, never leaked
  }
}
