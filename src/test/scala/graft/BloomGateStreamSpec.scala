package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BloomBits
import graft.streaming.Pipelines

/** The streaming incremental-dedup gate: a Bloom filter built batch-side
  * over a prior corpus gates files dropped into a watched directory, and
  * the stream's verdicts match an exact in-JVM replay of the same bucket
  * formulas (no false negatives; duplicate files rejected, novel ones
  * admitted). */
class BloomGateStreamSpec extends AnyFunSuite with LocalSpark {

  private val M = 1 << 16

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def buckets(g: String): Seq[Long] =
    (0 to 2).map(j => java.lang.Long.parseLong(md5hex(j.toString + g).take(15), 16) % M)

  private def grams(text: String): Seq[String] = {
    val toks = text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
    if (toks.length < 8) Seq.empty
    else (0 to toks.length - 8).map(i => toks.slice(i, i + 8).mkString(" ")).distinct
  }

  test("stream verdicts match the exact bucket replay; dup vs novel files") {
    import spark.implicits._
    val prior = (0 until 40).map(i =>
      s"prior document variant " +
        (0 until 14).map(k => "word" + ('a' + (i * 7 + k) % 26).toChar
          + ('a' + (i * 3 + k * 5) % 26).toChar).mkString(" "))
    // batch-side filter build — the same aggregate the x166 gate uses
    val bits = prior.flatMap(grams).toDF("g")
      .select(array((0 to 2).map(j => pmod(conv(substring(md5(
        concat(lit(j.toString), col("g"))), 1, 15), 16, 10).cast("long"),
        lit(M.toLong))): _*).as("hs"))
      .agg(BloomBits.bloomBits(col("hs"), M).as("bits"))
      .collect()(0).getSeq[Long](0).toArray

    val dir = Files.createTempDirectory("bloom_gate").toFile
    val dup = prior(3) + " " + prior(17) // wholly made of seen grams + seam
    val novel = "completely fresh sentence about something else entirely " +
      (0 until 12).map(k => "zeta" + ('a' + (k * 11) % 26).toChar + " nova"
        + ('a' + (k * 17) % 26).toChar).mkString(" ")
    Files.write(new java.io.File(dir, "dup.txt").toPath, dup.getBytes)
    Files.write(new java.io.File(dir, "novel.txt").toPath, novel.getBytes)

    val q = Pipelines.bloomGateStream(spark, dir.getAbsolutePath, bits, M)
      .writeStream.format("memory").queryName("bloom_gate")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("bloom_gate").collect()
      .map(r => r.getString(0).split('/').last ->
        (r.getInt(1), r.getInt(2), r.getBoolean(4))).toMap
    // exact replay of the filter the stream used
    def seenExact(g: String): Boolean = buckets(g).forall { h =>
      (bits((h >>> 6).toInt) & (1L << (h & 63).toInt)) != 0
    }
    for ((name, text) <- Seq("dup.txt" -> dup, "novel.txt" -> novel)) {
      val gs = grams(text)
      val (n, s, admit) = rows(name)
      assert(n == gs.length, s"$name gram count")
      assert(s == gs.count(seenExact), s"$name seen count")
      assert(admit == ((n - s).toDouble / n >= 0.5), s"$name admit")
    }
    // and the gate actually separates them: no false negatives means the
    // duplicate's within-document grams all test positive
    assert(!rows("dup.txt")._3, "duplicate admitted")
    assert(rows("novel.txt")._3, "novel rejected")
  }
}
