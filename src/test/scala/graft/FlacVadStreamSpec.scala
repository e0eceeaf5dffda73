package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AudioHeaders, FlacCodec}
import graft.streaming.Pipelines

/** Streaming FLAC VAD: windows emitted for files landing in a watched
  * directory match an exact batch replay of decode + windowing, the
  * energy verdict separates a flat lead-in from the hot wave, and an
  * undecodable payload routes to one quarantine row. */
class FlacVadStreamSpec extends AnyFunSuite with LocalSpark {

  test("stream windows == batch replay; quarantine on CRC corruption") {
    val dir = Files.createTempDirectory("flac_vad").toFile
    // 256 flat samples (silent) then a hot modular wave
    val pcm = Array.tabulate(480)(i =>
      if (i < 256) 120 else ((i * 37 + 11) % 1601 - 800) * 20)
    val good = FlacCodec.encode(1, 8000, 16, Array(pcm), 256)
    val bad = good.clone()
    bad(bad.length - 7) = (bad(bad.length - 7) ^ 0x04).toByte
    Files.write(new java.io.File(dir, "good.flac").toPath, good)
    Files.write(new java.io.File(dir, "bad.flac").toPath, bad)

    val q = Pipelines.flacVadStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("flac_vad")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    // columns: path(0) frame_idx(1) n(2) peak(3) sum_sq(4) active(5) ok(6)
    val rows = spark.table("flac_vad").collect()
      .map(r => (r.getString(0).split('/').last, r.getInt(1),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) null else java.lang.Boolean.valueOf(r.getBoolean(5)),
        r.getBoolean(6)))
      .sortBy(t => (t._1, t._2)).toSeq

    // ground truth: decode + window batch-side
    val exp = AudioHeaders.parsePcmFrames(FlacCodec.decodeToWav(good), 160)
    val goodRows = rows.filter(_._1 == "good.flac")
    assert(goodRows.map(_._2) == exp.map(_._1))
    assert(goodRows.map(_._3) == exp.map(_._4))
    // windows 0 (all flat) inactive, window 2 (all wave) active
    val verdicts = goodRows.map(r => r._2 -> r._4.booleanValue()).toMap
    assert(!verdicts(0), "flat lead-in window must be inactive")
    assert(verdicts(2), "hot wave window must be active")
    assert(goodRows.forall(_._5))
    // quarantine: one row, frame -1, null stats
    assert(rows.filter(_._1 == "bad.flac") ==
      Seq(("bad.flac", -1, -1L, null, false)))
  }
}
