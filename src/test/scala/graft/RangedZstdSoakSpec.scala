package graft

import java.io.{BufferedOutputStream, FileOutputStream}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Warc, Zstandard}
import graft.sources.RangedZstd
import graft.streaming.Pipelines

/** The beyond-2-GB `.warc.zst` monolith, genuinely exercised: a
  * ~2.3 GiB file (incompressible payloads so compressed ≈ raw) whose
  * later frame extents START past a signed-32-bit offset must scan in
  * O(1) memory (the block-header walk never buffers a frame) and read
  * back record-exact through [[Pipelines.warcZstRanged]] — the file
  * the bounded column path cannot even load. */
class RangedZstdSoakSpec extends AnyFunSuite with LocalSpark {

  test("a ~2.3 GiB .warc.zst scans past 2^31 in O(1) memory and reads " +
      "back record-exact through the ranged path") {
    val boundary = 1L << 31
    val f = java.io.File.createTempFile("rzst_soak", ".warc.zst")
    f.deleteOnExit()

    // one shared incompressible tail (so compressed ≈ raw and the file
    // crosses 2^31 quickly) behind a unique per-record head
    val rnd = new scala.util.Random(42)
    val tail = new Array[Byte](4 << 20)
    rnd.nextBytes(tail)
    val os = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
    var n = 0
    var written = 0L
    def payloadOf(i: Int): Array[Byte] =
      s"record $i head ".getBytes("UTF-8") ++ tail
    try {
      while (written < boundary + (128L << 20)) {
        n += 1
        val rec = Warc.build(Seq(("response", s"http://r$n.example/x",
          "2024-01-01T00:00:00Z", payloadOf(n))))
        val frame = Zstandard.encode(rec)
        os.write(frame)
        written += frame.length
      }
    } finally os.close()
    val md5Last = java.security.MessageDigest.getInstance("MD5")
      .digest(payloadOf(n)).map("%02x".format(_)).mkString
    val size = f.length()
    assert(size > boundary, s"fixture must cross 2^31: $size")
    info(s"fixture: ${size / (1 << 20)} MiB, $n records")

    // LIVE-set measurement via POST-COLLECTION pool usage (round 16):
    // `totalMemory - freeMemory` read after a System.gc() hint races with
    // the concurrent decode tasks — 4 tasks churning ~4 MiB frames
    // allocate hundreds of MiB between the collection finishing and the
    // read, so the old sampler's "live" peak swung 494→1801 MiB across
    // runs of IDENTICAL code (bisected round 16: the spread within one
    // commit equalled the spread between commits; the flagged failures
    // were this race, not retention). MemoryPoolMXBean.getCollectionUsage
    // is the pool occupancy frozen AT THE END of the last GC — no
    // allocation race by construction — so the sampled peak is the true
    // live high-water.
    def liveAfterGc(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
          p.getCollectionUsage != null)
        .map(_.getCollectionUsage.getUsed).sum
    }
    // settle the baseline: in the shared test JVM, sibling suites leave
    // async-collectable state (checkpoint blocks pending ContextCleaner,
    // humongous G1 regions) that one gc pass can under-collect — which
    // would inflate the measured DELTA, not the live set under test
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(150) }
    val baseline = liveAfterGc()
    @volatile var done = false
    @volatile var peak = baseline
    // LIVE-set sampling (full gc before each sample, then read the
    // post-collection usage): the claim under test is that nothing LIVE
    // ever approaches the file size
    val sampler = new Thread(() => {
      while (!done) {
        System.gc()
        val u = liveAfterGc()
        if (u > peak) peak = u
        Thread.sleep(300)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    // 1) the O(1)-memory walk: every frame found, later ones past 2^31
    val conf = spark.sparkContext.hadoopConfiguration
    val exts = RangedZstd.scanExtents(conf, f.getAbsolutePath)
    assert(exts.frames.size == n, s"frames=${exts.frames.size} wrote=$n")
    assert(exts.frames.last._1 > boundary,
      s"last frame must start past 2^31: ${exts.frames.last}")
    assert(exts.frames.map(e => e._1 + e._2).max == size)

    // 2) ranged read-back: every record intact, the boundary-area one
    //    payload-exact
    import spark.implicits._
    val agg = Pipelines.warcZstRanged(
        Seq(f.getAbsolutePath).toDF("path"))
      .agg(count(when(col("ok"), 1)).as("n_ok"),
        count(when(!col("ok"), 1)).as("n_bad"),
        max(when(col("uri") === s"http://r$n.example/x",
          md5(col("payload")))).as("last_md5"))
      .head()
    assert(agg.getLong(0) == n && agg.getLong(1) == 0,
      s"ok=${agg.getLong(0)} bad=${agg.getLong(1)} of $n")
    assert(agg.getString(2) == md5Last, "last record payload mismatch")

    done = true
    val deltaMiB = (peak - baseline) / (1 << 20)
    info(s"peak used-heap delta $deltaMiB MiB over a " +
      s"${size / (1 << 20)} MiB file")
    // Live-set model: since the round-15 explicit-count spread, the
    // frame decodes genuinely run CONCURRENTLY (defaultParallelism
    // tasks × a few copies of one ~4 MiB frame each — before, AQE's
    // byte-based coalescing silently serialized them), plus shared-JVM
    // residue from sibling suites. The race-free post-collection sampler
    // (above) measures the good path at ~240–250 MiB standalone, so the
    // round-15 allocation-race headroom is gone from the bound: the cap
    // is back to the ADVICE-r15 size-proportional HALF of the file (a
    // regression buffering even half the frames of one member fails),
    // with a 768 MiB + 64 MiB/task floor for small fixtures/shared-JVM
    // runs. The failure mode under guard — materializing the FILE —
    // would add the whole ~2.2 GiB and overshoot either arm.
    val par = spark.sparkContext.defaultParallelism
    val bound = math.min((768L << 20) + par.toLong * (64L << 20),
      size / 2)
    assert(peak - baseline < bound,
      s"live-heap delta $deltaMiB MiB (bound ${bound / (1 << 20)} MiB) " +
        "suggests O(file) materialization")

    assert(f.delete())
  }
}
