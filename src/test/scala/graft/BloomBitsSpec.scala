package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BloomBits

/** The distributed Bloom-filter aggregate: bit layout, cross-partition
  * merge, the no-false-negative guarantee, and the analysis-time guards. */
class BloomBitsSpec extends AnyFunSuite with LocalSpark {

  import spark.implicits._

  private def words(buckets: Seq[Seq[Long]], m: Int = 256): Array[Long] = {
    val df = spark.sparkContext.parallelize(buckets, 4).toDF("hs")
    df.agg(BloomBits.bloomBits(col("hs"), m).as("bits"))
      .collect()(0).getSeq[Long](0).toArray
  }

  test("bit layout: bucket h lands in word h/64 at bit h%64") {
    val w = words(Seq(Seq(0L), Seq(63L), Seq(64L), Seq(130L)))
    assert(w.length == 4)
    assert(w(0) == ((1L << 0) | (1L << 63)))
    assert(w(1) == 1L)
    assert(w(2) == (1L << 2))
    assert(w(3) == 0L)
  }

  test("merge across partitions is a word-wise OR (duplicates harmless)") {
    val w1 = words(Seq.tabulate(64)(i => Seq(i.toLong, (i * 3 % 256).toLong)))
    // same buckets, one partition, duplicated input rows
    val w2 = words(Seq.tabulate(64)(i => Seq(i.toLong, (i * 3 % 256).toLong)) ++
      Seq.tabulate(64)(i => Seq(i.toLong)))
    assert(w1.toSeq == w2.toSeq)
  }

  test("no false negatives: every inserted item tests positive") {
    val m = 1 << 12
    def buckets(s: String): Seq[Long] = (0 to 2).map { j =>
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest((j.toString + s).getBytes("UTF-8"))
          .take(7).map(b => f"$b%02x").mkString, 16) % m
    }
    val items = (0 until 500).map(i => s"item-$i")
    val w = words(items.map(buckets), m)
    def contains(s: String): Boolean = buckets(s).forall { h =>
      (w((h >>> 6).toInt) & (1L << (h & 63).toInt)) != 0
    }
    assert(items.forall(contains))
    // and the filter is not degenerate (not every probe positive)
    val fresh = (0 until 500).map(i => s"unseen-$i")
    assert(fresh.count(contains) < 50)
  }

  test("out-of-range bucket fails loudly, not by corrupting a word") {
    val e = intercept[Exception] {
      words(Seq(Seq(256L)), 256)
    }
    assert(e.getMessage != null)
  }

  test("non-array child is rejected at analysis time") {
    val df = Seq(1L).toDF("x")
    val e = intercept[Exception] {
      df.agg(BloomBits.bloomBits(col("x"), 256)).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array"))
  }
}
