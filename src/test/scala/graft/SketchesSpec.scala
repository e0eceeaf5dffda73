package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.batch.Sketches

/** Misra–Gries heavy-hitters guarantees against exact counts: every true
  * heavy hitter is present, estimates never exceed true counts, and the
  * underestimate stays within the n/(k+1) bound — at different partition
  * counts (the distributed merge must preserve the bound regardless of how
  * partials combine).
  */
class SketchesSpec extends AnyFunSuite with LocalSpark {

  test("MG sketch: presence, underestimate-only, n/(k+1) error bound") {
    import spark.implicits._
    // Skewed stream: token t_i (i in 0..99) appears (100-i)^2 times.
    val items = (0 until 100).flatMap(i => Seq.fill((100 - i) * (100 - i))(s"t$i"))
    val n = items.size.toLong
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val k = 32
    for (parts <- Seq(1, 2, 8)) {
      val ds = spark.createDataset(items).repartition(parts)
      val got = ds.select(new Sketches.MisraGries(k).toColumn.name("m"))
        .head()
      assert(got.size <= k)
      val bound = n / (k + 1) // classic MG guarantee, preserved by merge
      for ((tok, true_n) <- exact if true_n > bound)
        assert(got.contains(tok), s"heavy hitter $tok (n=$true_n) missing at parts=$parts")
      for ((tok, est) <- got) {
        val t = exact(tok)
        assert(est <= t, s"$tok overestimated: est=$est true=$t parts=$parts")
        assert(t - est <= bound, s"$tok error ${t - est} > $bound at parts=$parts")
      }
    }
  }

  test("KMV: exact below k, ~1/sqrt(k) error above, partition-invariant") {
    import spark.implicits._
    val k = 256
    // exact regime: fewer distincts than k
    val small = spark.createDataset((0 until 100).map(i => s"v$i") ++ Seq("v0", "v1"))
    val gotSmall = small.select(new Sketches.Kmv(k).toColumn.name("d")).head()
    assert(gotSmall === 100.0)
    // estimate regime: 5000 distincts, duplicated unevenly
    val items = (0 until 5000).flatMap(i => Seq.fill(i % 3 + 1)(s"t$i"))
    val estimates = for (parts <- Seq(1, 2, 8)) yield {
      val ds = spark.createDataset(items).repartition(parts)
      ds.select(new Sketches.Kmv(k).toColumn.name("d")).head()
    }
    // merge is a deterministic set union → the estimate cannot depend on
    // partitioning at all
    assert(estimates.distinct.size === 1, s"partition-dependent: $estimates")
    val err = math.abs(estimates.head - 5000.0) / 5000.0
    assert(err < 0.15, s"estimate ${estimates.head} off by ${err * 100}%")
  }

  test("KMV jaccard estimates set overlap") {
    val k = 256
    val kmv = new Sketches.Kmv(k)
    def sketch(xs: Seq[String]): Sketches.KmvState =
      xs.foldLeft(kmv.zero)((s, x) => kmv.reduce(s, x))
    // |A|=2000, |B|=2000, |A∩B|=1000 → J = 1000/3000 ≈ 0.333
    val a = sketch((0 until 2000).map(i => s"x$i"))
    val b = sketch((1000 until 3000).map(i => s"x$i"))
    val j = Sketches.Kmv.jaccard(a, b, k)
    assert(math.abs(j - 1.0 / 3.0) < 0.1, s"jaccard $j")
    // disjoint sets → ~0; identical sets → 1
    val c = sketch((9000 until 11000).map(i => s"x$i"))
    assert(Sketches.Kmv.jaccard(a, c, k) < 0.05)
    assert(Sketches.Kmv.jaccard(a, a, k) === 1.0)
  }

  test("CountMin: overestimate-only, e*n/width bound, bit-identical at any parallelism") {
    import spark.implicits._
    // Zipfish stream: token t_i appears (200-i) times, i in 0..199.
    val items = (0 until 200).flatMap(i => Seq.fill(200 - i)(s"t$i"))
    val n = items.size.toLong
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val depth = 4; val width = 256
    val grids = for (parts <- Seq(1, 2, 8)) yield {
      val ds = spark.createDataset(items).repartition(parts)
      val st = ds.select(new Sketches.CountMin(depth, width).toColumn.name("cm")).head()
      assert(st.n === n)
      st.counts.toSeq
    }
    // merge is an element-wise sum → the grid cannot depend on partitioning
    assert(grids.distinct.size === 1, "partition-dependent CM grid")
    val bound = math.ceil(math.E * n / width).toLong
    for ((tok, t) <- exact) {
      val est = Sketches.CountMin.estimate(grids.head, depth, width, tok)
      assert(est >= t, s"$tok UNDERestimated: $est < $t — CM can only overcount")
      assert(est - t <= bound, s"$tok error ${est - t} > $bound")
    }
    // absent items: estimate is pure collision mass, same bound applies
    val phantom = Sketches.CountMin.estimate(grids.head, depth, width, "never-seen")
    assert(phantom <= bound, s"phantom estimate $phantom > $bound")
  }

  test("BottomK: equals the sort-everything selection, partition-invariant, dedups") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val items = (0 until 1000).map(i => s"doc$i") ++ (0 until 50).map(i => s"doc$i")
    val k = 25
    // ground truth: sort the full distinct set by md5 priority, take k
    val expected = items.distinct.sortBy(md5hex).take(k)
    val samples = for (parts <- Seq(1, 2, 8)) yield {
      val ds = spark.createDataset(items).repartition(parts)
      ds.select(new Sketches.BottomK(k).toColumn.name("s")).head()
    }
    assert(samples.distinct.size === 1, "partition-dependent sample")
    assert(samples.head === expected)
  }

  test("ARes: equals the sort-everything weighted selection, partition-invariant, weight-sensitive") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def prio(s: String, w: Long): Double = {
      val u = (java.lang.Long.parseLong(md5hex(s).substring(0, 13), 16) + 1).toDouble /
        4503599627370496.0
      math.log(u) / w
    }
    // weights 1..1000: heavier items should dominate the kept set
    val items = (1 to 1000).map(i => (s"doc$i", i.toLong))
    val k = 30
    val expected = items.map { case (d, w) => Sketches.WEntry(prio(d, w), d) }
      .sortBy(-_.k).take(k)
    val samples = for (parts <- Seq(1, 2, 8)) yield {
      val ds = spark.createDataset(items).repartition(parts)
      ds.select(new Sketches.ARes(k).toColumn.name("s")).head()
    }
    assert(samples.distinct.size === 1, "partition-dependent sample")
    assert(samples.head === expected)
    // weight sensitivity: the kept set skews heavy — its mean weight sits
    // clearly above the population mean (500.5; this md5 realization: 580.7)
    val meanW = samples.head.map(_.value.stripPrefix("doc").toLong).sum.toDouble / k
    assert(meanW > 550, s"kept-set mean weight $meanW not skewed heavy")
  }

  test("TopKBy: equals sort-take-k with multiset duplicates, partition-invariant") {
    import spark.implicits._
    // duplicate best rows + a tie on key broken by (a, b)
    val rows = Seq((9L, 1L, 1L), (9L, 1L, 1L), (9L, 0L, 5L), (7L, 2L, 2L),
      (5L, 3L, 3L)) ++ (0 until 500).map(i => ((i % 5).toLong, i.toLong, 0L))
    val expected = rows.map { case (k, a, b) => Sketches.TEntry(k, a, b) }
      .sortBy(e => (-e.key, e.a, e.b)).take(4)
    val got = for (parts <- Seq(1, 2, 8)) yield {
      val ds = spark.createDataset(rows).repartition(parts)
      ds.select(new Sketches.TopKBy(4).toColumn.name("t")).head()
    }
    assert(got.distinct.size === 1, "partition-dependent top-k")
    assert(got.head === expected)
    // both copies of the duplicated best row must hold slots 2 and 3
    assert(got.head.take(3) === Seq(Sketches.TEntry(9L, 0L, 5L),
      Sketches.TEntry(9L, 1L, 1L), Sketches.TEntry(9L, 1L, 1L)))
  }

  test("TopKRows native aggregate equals TopKBy's multiset sort-take, partition-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq((9L, 1L, 1L), (9L, 1L, 1L), (9L, 0L, 5L), (7L, 2L, 2L),
      (5L, 3L, 3L)) ++ (0 until 500).map(i => ((i % 5).toLong, i.toLong, 0L))
    val expected = rows.sortBy { case (k, a, b) => (-k, a, b) }.take(4)
    for (parts <- Seq(1, 2, 8)) {
      val df = spark.createDataset(rows).toDF("k", "a", "b").repartition(parts)
      val got = df
        .agg(graft.functions.TopKRows.topkRows(col("k"), col("a"), col("b"), 4).as("t"))
        .selectExpr("explode(t) AS e").select("e.key", "e.a", "e.b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === expected, s"parts=$parts")
    }
  }

  test("TopKRows: int children cast cleanly, a string child fails at analysis") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the Column helper casts — int columns must work, not ClassCastException
    val ints = spark.createDataset(Seq((3, 1, 1), (9, 2, 2), (7, 3, 3)))
      .toDF("k", "a", "b")
      .agg(graft.functions.TopKRows.topkRows(col("k"), col("a"), col("b"), 2).as("t"))
      .selectExpr("explode(t) AS e").select("e.key")
      .collect().map(_.getLong(0)).toSeq
    assert(ints === Seq(9L, 7L))
    // a raw non-castable child is an ANALYSIS error (checkInputDataTypes),
    // not a runtime ClassCastException deep in an executor
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      spark.createDataset(Seq(("x", 1L, 1L))).toDF("k", "a", "b")
        .agg(org.apache.spark.sql.GraftColumnShim.column(
          graft.functions.TopKRows(
            org.apache.spark.sql.GraftColumnShim.expression(col("k")),
            org.apache.spark.sql.GraftColumnShim.expression(col("a")),
            org.apache.spark.sql.GraftColumnShim.expression(col("b")),
            2).toAggregateExpression()).as("t"))
        .collect()
    }
    assert(bad.getMessage.toLowerCase.contains("bigint"))
  }

  test("sketches register as SQL aggregates and agree with their typed forms") {
    import spark.implicits._
    Sketches.registerSql(spark)
    spark.createDataset((0 until 500).map(i => (s"g${i % 7}", s"item$i", (i % 9 + 1).toLong)))
      .toDF("grp", "item", "w").createOrReplaceTempView("sk_items")
    val sqlRows = spark.sql(
      """SELECT grp, kmv_distinct(item) AS nd, bottomk_sample(item) AS bk,
        |       ares_sample(item, w) AS ws
        |FROM sk_items GROUP BY grp""".stripMargin).collect()
    assert(sqlRows.length === 7)
    for (r <- sqlRows) {
      val grp = r.getString(0)
      val members = (0 until 500).filter(i => s"g${i % 7}" == grp).map(i => s"item$i")
      // below-k regime → KMV is exact; samples obey their typed ground truth
      assert(r.getDouble(1) === members.size.toDouble)
      val kmvAgg = new Sketches.Kmv(256)
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getSeq[String](2) === members.sortBy(md5hex).take(20))
      assert(r.getSeq[org.apache.spark.sql.Row](3).length === 20)
    }
    // mg_topk over a skewed stream surfaces the majority token in SQL
    spark.createDataset(Seq.fill(300)("big") ++ (0 until 60).map(i => s"small$i"))
      .toDF("tok").createOrReplaceTempView("sk_toks")
    val mg = spark.sql("SELECT mg_topk(tok) AS m FROM sk_toks")
      .head().getMap[String, Long](0)
    assert(mg.contains("big") && mg("big") >= 300L - 360L / 257)
  }

  test("MG merge is order-insensitive on disjoint halves' guarantees") {
    // Two adversarial halves: half A is all one token, half B spreads k+5
    // distinct tokens. The merged sketch must still surface the global
    // majority token with a near-exact count.
    import spark.implicits._
    val a = Seq.fill(5000)("major")
    val b = (0 until 37).flatMap(i => Seq.fill(100)(s"minor$i"))
    val ds = spark.createDataset(scala.util.Random.shuffle(a ++ b)).repartition(4)
    val got = ds.select(new Sketches.MisraGries(16).toColumn.name("m"))
      .head()
    val n = (a.size + b.size).toLong
    assert(got.contains("major"))
    assert(got("major") >= 5000L - n / 17)
  }
}
