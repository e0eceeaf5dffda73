package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Warc
import graft.streaming.Pipelines

/** Continuous CDX-index build under the streaming file source: archives
  * dropped into a watched directory come out as per-record index rows
  * whose extents really slice (x169's contract); junk archives emit a
  * quarantine row instead of vanishing. */
class CdxIndexStreamSpec extends AnyFunSuite with LocalSpark {

  test("watched archives stream out as sliceable index rows") {
    val dir = Files.createTempDirectory("cdx_stream").toFile
    val recs = Seq(
      ("warcinfo", null: String, "2024-03-01T00:00:00Z", "soft".getBytes),
      ("response", "http://s.example/1", "2024-03-01T00:00:00Z",
        "<html>one</html>".getBytes))
    val plain = Warc.build(recs)
    val gz = Warc.buildGz(recs)
    Files.write(new java.io.File(dir, "a.warc").toPath, plain)
    Files.write(new java.io.File(dir, "b.warc.gz").toPath, gz)
    Files.write(new java.io.File(dir, "junk.warc").toPath,
      "not a warc at all".getBytes)

    val q = Pipelines.cdxIndexStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("cdx_rows")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("cdx_rows").collect()
      .map(r => (r.getString(0).split('/').last, r.getString(1),
        r.getString(2), r.getLong(4), r.getLong(5), r.getString(6)))
    // two records per parseable archive, one quarantine row for junk
    assert(rows.count(_._1 == "a.warc") == 2)
    assert(rows.count(_._1 == "b.warc.gz") == 2)
    val junk = rows.filter(_._1 == "junk.warc")
    assert(junk.length == 1 && junk.head._2 == null && junk.head._4 == -1L)
    // extents from the stream slice back out of the on-disk bytes
    def md5(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map(x => f"$x%02x").mkString
    for ((file, bytes) <- Seq("a.warc" -> plain, "b.warc.gz" -> gz);
         (_, rt, _, off, len, dig) <- rows.filter(r =>
           r._1 == file && r._2 == "response")) {
      assert(rt == "response")
      val re = Warc.parse(java.util.Arrays.copyOfRange(
        bytes, off.toInt, (off + len).toInt))
      assert(re != null && re.length == 1 && md5(re(0)._5) == dig)
    }
  }
}
