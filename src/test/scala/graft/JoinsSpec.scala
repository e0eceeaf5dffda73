package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.batch.Joins

/** Salted-join equivalence under skew and bucketed join shuffle elimination. */
class JoinsSpec extends AnyFunSuite with LocalSpark {

  // force SMJ paths, for this spec's tests only
  override def withFixture(test: NoArgTest) =
    LocalSpark.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(super.withFixture(test))

  test("saltedJoin returns exactly the plain-join result under heavy skew") {
    import spark.implicits._
    // 10k rows, 90% on one hot key
    val left = spark.range(10000)
      .select((when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 50)).as("k"),
        col("id").as("v"))
    val right = spark.range(50).select(col("id").as("k"), (col("id") * 100).as("w"))
    val plain = left.join(right, "k").select("k", "v", "w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val salted = Joins.saltedJoin(left, right, "k", 8).select("k", "v", "w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(salted.length == plain.length)
    assert(salted.toSeq == plain.toSeq)
  }

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    val a = spark.range(5000).select(col("id").as("k"), (col("id") * 2).as("a"))
    val b = spark.range(5000).select(col("id").as("k"), (col("id") * 3).as("b"))
    Joins.writeBucketed(a, "bkt_a", "k", 4)
    Joins.writeBucketed(b, "bkt_b", "k", 4)
    val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange"), s"expected shuffle-free plan:\n$physical")
    assert(joined.count() == 5000)
  }

  test("rangeJoinBinned == naive interval join, without a nested-loop plan") {
    import spark.implicits._
    // Probe: one event per minute over ~7 hours. Intervals deliberately NOT
    // bin-aligned and of mixed width (shorter, equal, and longer than the
    // 1800 s bin), plus a degenerate end<=start row that must match nothing.
    val probe = spark.range(400)
      .select(col("id").as("ev"),
        timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"))
    val iv = spark.createDataset(Seq(
      (1L, 1700000100L, 1700000700L),  // 10 min, inside one bin
      (2L, 1700001700L, 1700002000L),  // straddles a bin boundary
      (3L, 1700003000L, 1700009000L),  // 100 min, spans 4 bins
      (4L, 1700010000L, 1700010000L),  // empty
      (5L, 1700011000L, 1700010000L))) // inverted
      .toDF("iv_id", "s", "e")
      .select(col("iv_id"), timestamp_seconds(col("s")).as("start"),
        timestamp_seconds(col("e")).as("end"))
    val naive = probe.join(iv, col("ts") >= col("start") && col("ts") < col("end"))
      .select("ev", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val binned = Joins.rangeJoinBinned(probe, "ts", iv, "start", "end", binSeconds = 1800L)
      .select("ev", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(naive.nonEmpty && binned.toSeq == naive.toSeq)
    assert(naive.count(_._2 == 4L) == 0 && naive.count(_._2 == 5L) == 0)
    val physical = Joins.rangeJoinBinned(probe, "ts", iv, "start", "end", 1800L)
      .queryExecution.executedPlan.toString
    assert(!physical.contains("NestedLoop"),
      s"bin equi-key should give a hash/merge join:\n$physical")
  }

  test("property: rangeJoinBinned == naive join for random intervals and bin sizes") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = 1700000000L
    val probe = spark.createDataset(
        (0 until 300).map(i => (i.toLong, base + rnd.nextInt(36000).toLong)))
      .toDF("ev", "s0").select(col("ev"), timestamp_seconds(col("s0")).as("ts"))
    for (binSeconds <- Seq(60L, 700L, 3600L, 100000L)) {
      val iv = spark.createDataset((0 until 40).map { k =>
        val s = base + rnd.nextInt(36000)
        (k.toLong, s, s - 100 + rnd.nextInt(7200))  // some inverted/empty
      }).toDF("iv_id", "s1", "e1")
        .select(col("iv_id"), timestamp_seconds(col("s1")).as("start"),
          timestamp_seconds(col("e1")).as("end"))
      val naive = probe.join(iv, col("ts") >= col("start") && col("ts") < col("end"))
        .select("ev", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val binned = Joins.rangeJoinBinned(probe, "ts", iv, "start", "end", binSeconds)
        .select("ev", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(binned.toSeq == naive.toSeq, s"mismatch at binSeconds=$binSeconds")
    }
  }

  test("globalRank == single-partition row_number, with duplicates and skew") {
    import org.apache.spark.sql.expressions.Window
    // Keys deliberately non-uniform (quadratic clumping) plus a tiebreak
    // column making the order total, so ranks are well-defined.
    val df = spark.range(20000)
      .select(((col("id") * col("id")) % 997).as("k"), col("id").as("tb"))
    val expected = df
      .withColumn("global_rank", row_number().over(Window.orderBy("k", "tb")))
      .select("tb", "global_rank")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong)).sorted
    val got = Joins.globalRank(df, 7, "k", "tb")
      .select("tb", "global_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == expected.toSeq)
  }

  test("globalRank plan reuses the range exchange and has no 1-partition sort") {
    // Correctness of the two-pass rank rests on both branches (data + counts)
    // seeing the SAME sampled range boundaries: that is guaranteed exactly
    // when the range-exchange stage is computed once and reused. AQE does
    // this at runtime (stage cache keyed on canonical subtree), so execute
    // first and pin the marker in the final adaptive plan.
    val df = spark.range(5000).select((col("id") % 37).as("k"), col("id").as("tb"))
    val ranked = Joins.globalRank(df, 7, "k", "tb")
    ranked.collect()
    val plan = ranked.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"))
    assert(plan.contains("ReusedExchange"),
      s"counts branch must reuse the data branch's range exchange:\n$plan")
    // The offsets window is the only single-partition stage, and it sorts
    // ≤`partitions` count rows — the full data never serializes to one task.
    val single = plan.linesIterator.filter(_.contains("Exchange SinglePartition"))
    assert(single.forall(_ => plan.contains("sum(_gr_cnt")),
      s"unexpected single-partition exchange outside the offsets branch:\n$plan")
  }

  test("exactPercentiles == percentile() aggregate, incl. ties and 1-row groups") {
    import spark.implicits._
    // skewed group sizes, duplicate values, a single-row group, and values
    // whose interpolation positions hit both the lower==higher and the
    // fractional branch
    val df = (Seq(("a", 5.0)) ++                       // 1-row group
      (0 until 997).map(i => ("b", (i % 41).toDouble)) ++ // heavy ties
      (0 until 10).map(i => ("c", i * 1.5))).toDF("g", "v")
    val expected = df.groupBy("g")
      .agg(count(lit(1)).as("n"),
        expr("percentile(v, 0.25)").as("p0"),
        expr("percentile(v, 0.5)").as("p1"),
        expr("percentile(v, 0.9)").as("p2"))
      .orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    val got = Joins.exactPercentiles(df, "g", "v", Seq(0.25, 0.5, 0.9))
      .orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    // bit-exact, not approximate: the helper replicates
    // Percentile.getPercentile's interpolation formula
    assert(got == expected)
  }

  test("globalCumSum == single-partition running sum, with zeros and skew") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(20000)
      .select(((col("id") * col("id")) % 997).as("k"), col("id").as("tb"),
        (col("id") % 7).as("v")) // includes zero values
    val expected = df
      .withColumn("cum_before",
        coalesce(sum("v").over(Window.orderBy("k", "tb")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("tb", "cum_before")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val got = Joins.globalCumSum(df, 7, "v", "k", "tb")
      .select("tb", "cum_before")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == expected.toSeq)
    // first row in key order starts at zero; total is conserved
    assert(got.map(_._2).min == 0L)
  }

  test("writeDatePartitioned: date filters prune partitions at the scan") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("date_part").toString
    val ev = graft.queries.Core.table(spark, "/root/testdata/sf0.001", "events")
    Joins.writeDatePartitioned(ev, dir, "ts")
    val back = spark.read.parquet(dir)
    val oneDay = back.filter(col("p_date") === "2024-01-05")
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p_date"),
      s"expected p_date partition filter at the scan:\n$plan")
    // pruning must not change the answer
    val expected = ev.filter(to_date(col("ts")) === "2024-01-05").count()
    assert(oneDay.count() === expected && expected > 0)
    // and the pruned scan reads strictly fewer files than the table holds
    val allDirs = new java.io.File(dir).listFiles().count(_.getName.startsWith("p_date="))
    assert(allDirs > 1, "fixture should span multiple dates")
  }
}
