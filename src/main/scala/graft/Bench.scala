package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.metrics.source.CodegenMetrics

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and prints
  * one JSON line. Each query is executed fully via the noop sink (a bare
  * count() would let Catalyst prune projections and understate the work).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("graft-bench")

    // Untimed warmup: exercise each table family's parquet scan plus
    // shuffle/sort/codegen once so the first measured query per family
    // doesn't absorb JVM/JIT/page-cache startup (q18 = lineitem, x07 =
    // documents tokenize, q26 = embeddings vector math).
    for (name <- Seq("q18_agg_breadth", "x07_token_stats", "q26_cosine_topk"))
      SparkEntry.queries.get(name)
        .foreach(fn => fn(spark, sfDir).write.mode("overwrite").format("noop").save())

    // Optional args = subset of query names to time (profiling aid); the
    // driver invokes with no args and times everything.
    val wanted = if (args.nonEmpty) SparkEntry.queries.filter(kv => args.contains(kv._1))
                 else SparkEntry.queries

    // SPARK_GRAFT_BENCH_SAMPLE: run the named TUNING-TIME queries (the
    // parameter-sweep/contrast rows whose cost is their exact ground-truth
    // arm, ~7% of the full bench) on a deterministic 25% corpus slice —
    // local-iteration headroom as the registry grows. The driver sets no
    // env, so committed BENCH_r{N} snapshots stay full-fidelity; a sampled
    // run says so in its JSON ("sampled":[...]) and can never masquerade
    // as a full one.
    val sampleQueries = Set("x207_lsh_sweep", "x153s_image_dedup_scale")
    val sampleDir: Option[String] = sys.env.get("SPARK_GRAFT_BENCH_SAMPLE").map { _ =>
      import org.apache.spark.sql.functions.col
      val d = queries.Scratch.scratch("graft_bench_sample")
      queries.Core.table(spark, sfDir, "documents")
        .where(col("doc_id") % 4 === 0)
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      queries.Core.table(spark, sfDir, "embeddings")
        .where(col("vec_id") % 4 === 0)
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      d
    }
    def dirFor(name: String): String =
      sampleDir.filter(_ => sampleQueries(name)).getOrElse(sfDir)
    // Untimed FIXTURE SETUP phase (round 16): every per-(JVM, sf dir)
    // cached fixture (the x256/x267–x272 on-disk archive corpora) builds
    // HERE, before the timing loop, so the timed region is honest by
    // construction — previously run 1 of median-of-3 paid the build and
    // runs 2–3 skipped it, which shifted the measurement boundary inside
    // the median. The operator under test (the ranged read) still runs
    // fully on every repetition; only the one-shot fixture ENCODE (bzip2 /
    // 7z / zstd-dict sink — gated as operators elsewhere) moves out.
    // The JSON carries "fixtures_pretimed":true so snapshots are
    // distinguishable from pre-round-16 ones.
    for ((name, setup) <- queries.Dataflow.fixtureSetups if wanted.contains(name))
      setup(spark, dirFor(name))
    // SPARK_GRAFT_BENCH_N=k (default 3): run each query k times and report
    // the per-query MEDIAN — the defense against a contended host, where a
    // single run can absorb another process's CPU burst and read 10-30×
    // slow (SCALE.md documents two such driver-box snapshots). Median-of-3
    // is the DEFAULT so every committed snapshot carries "runs":3; set
    // SPARK_GRAFT_BENCH_N=1 for a quick single-pass profile. The JSON
    // contract is unchanged: one line, same keys; "runs" is added so a
    // median snapshot is distinguishable from a single-run one. A value
    // that is not a positive integer stops the run before it starts.
    val runsPerQuery = graft.app.AppSession.positiveSetting("SPARK_GRAFT_BENCH_N", 3)
      .fold(graft.app.AppSession.fail, identity)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    // Short keys are needed before the timing loop (the variance guard
    // looks queries up in the previous snapshot by their JSON key).
    val names = wanted.keys.toSeq.sorted
    val idCounts = names.map(_.split('_')(0))
    val dup = idCounts.groupBy(identity)
      .collect { case (id, g) if g.length > 1 => id }.toSet
    def shortKey(name: String): String = {
      val parts = name.split('_')
      if (dup(parts(0)) && parts.length > 1) parts(0) + parts(1).head else parts(0)
    }
    // Variance guard: a contended host aliases an external CPU burst into
    // one query's median (the round-9 snapshot read x188–x191 at 3–6×
    // with none of their code changed — alphabetically consecutive, the
    // classic stall signature). When a query's median exceeds
    // max(2.5× prior, prior + 0.5 s) against the committed snapshots of
    // this run's slot count (priorsAt),
    // give it up to 4 extra runs (global budget 10 across the whole
    // bench) and re-take the median: a stall washes out, a genuine
    // regression stays slow on every rerun and is reported in "outliers".
    // An explicit SPARK_GRAFT_BENCH_BASELINE snapshot overrides the
    // committed ones (exact-control semantics).
    val cpus = graft.app.AppSession.cpus().fold(graft.app.AppSession.fail, identity)
    val priorTimes: Map[String, Double] = sys.env.get("SPARK_GRAFT_BENCH_BASELINE") match {
      case Some(path) => parseBench(read(Paths.get(path)))
      case None => priorsAt(Paths.get("."), cpus)
    }
    var rerunBudget = 10
    var rerunsUsed = 0
    // Janino compiles in the timed window: cache misses of Spark's
    // generated-class cache (AppSession.CodegenCacheEntries), so a change
    // that moves code generation into or out of the timed region shows.
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compilesBefore = compiles
    val results = names.map { name =>
      val fn = wanted(name)
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, dirFor(name)).write.mode("overwrite").format("noop").save(); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, ok)
      }
      var times = (1 to runsPerQuery).map(_ => once()).toVector
      val prior = priorTimes.get(shortKey(name))
      def threshold: Option[Double] = prior.map(guardThreshold)
      // the guarded median is over the TRAILING runsPerQuery samples:
      // keeping stalled runs in a widening window lets a partial wash-out
      // settle exactly at the threshold and be committed unflagged as the
      // new baseline — reruns must be able to displace the stall entirely
      def guardedMedian: Double =
        median(times.takeRight(runsPerQuery).map(_._1))
      while (threshold.exists(guardedMedian > _) &&
          times.forall(_._2) && rerunBudget > 0 &&
          times.length < runsPerQuery + 4) {
        rerunBudget -= 1; rerunsUsed += 1
        System.err.println(f"[bench] $name median $guardedMedian%.1f s " +
          f"exceeds ${threshold.get}%.1f s vs prior snapshot — rerunning")
        times = times :+ once()
      }
      // any failed repetition marks the query failed — a flaky query must
      // not hide behind a median of its surviving runs
      val stillSlow = threshold.exists(guardedMedian > _)
      (name, guardedMedian, times.forall(_._2), stillSlow)
    }
    val codegenCompiles = compiles - compilesBefore
    // A broken query must not masquerade as a fast one: failures are null in
    // the per-query map, listed in "failed", and flip the exit code.
    // The line is kept deliberately compact (adaptive decimals, sf basename,
    // failed list only when non-empty): the harness snapshots only the last
    // ~2000 chars of output, and the JSON plus sbt's "[success]" trailer must
    // fit inside that window to be parseable.
    def fmt(v: Double): String =
      if (v >= 100) f"$v%.0f" else f"$v%.1f"
    // Per-query keys on stdout are the query-id prefix ("q01", "x51"); ids
    // shared by two queries get the first letter of the next token appended
    // ("q15a"/"q15r"). Full names stay in Verify/CORRECTNESS; the prefix is
    // what keeps 80+ entries inside the 2000-char stdout window.
    val qs = results.map { case (k, v, ok, _) =>
      "\"" + shortKey(k) + "\":" + (if (ok) fmt(v) else "null")
    }.mkString("{", ",", "}")
    val failedNames = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
    val failed =
      if (failedNames.isEmpty) "" else failedNames.mkString(""""failed":[""", ",", "],")
    // queries still above the variance-guard threshold after reruns: real
    // slowdowns (or a stall the rerun budget couldn't wash out) — visible
    // in the snapshot either way, never silently absorbed
    val outlierNames = results.collect { case (k, _, true, true) => "\"" + shortKey(k) + "\"" }
    val outliers =
      if (outlierNames.isEmpty) "" else outlierNames.mkString(""""outliers":[""", ",", "],")
    val rerunsTag = if (rerunsUsed == 0) "" else s""""reruns":$rerunsUsed,"""
    val total = fmt(results.collect { case (_, v, true, _) => v }.sum)
    val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val runsTag = if (runsPerQuery > 1) s""""runs":$runsPerQuery,""" else ""
    val sampledTag = if (sampleDir.isEmpty) "" else
      results.collect { case (k, _, _, _) if sampleQueries(k) => "\"" + shortKey(k) + "\"" }
        .mkString(""""sampled":[""", ",", "],")
    // "tables_pinned": Core.table reads every table after its first read
    // with the schema it inferred then, so the timed region runs no schema
    // job; "codegen_compiles" is the Janino compile count of the timed loop;
    // "cpus" is the task slot count, which picks the guard's priors.
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,$failed$outliers$rerunsTag$runsTag$sampledTag"fixtures_pretimed":true,"tables_pinned":true,"codegen_compiles":$codegenCompiles,"cpus":$cpus,"sf":"$sfName"}"""
    println(json)
    // stdout passes through sbt's logger with an [info] prefix, which breaks
    // naive line parsers — also drop the bare JSON at a well-known path.
    // A subset run (non-empty args) must never clobber the canonical
    // full-suite BENCH_LATEST.json: it only writes when explicitly routed
    // via SPARK_GRAFT_BENCH_OUT.
    val outEnv = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val out = outEnv.getOrElse("BENCH_LATEST.json")
    if (args.isEmpty || outEnv.isDefined) Harness.writeLatest("bench", out, json)
    else System.err.println(
      s"[bench] subset run (${args.length} queries): not writing $out; set SPARK_GRAFT_BENCH_OUT to persist")
    spark.stop()
    if (results.exists(!_._3)) sys.exit(1)
  }

  /** A snapshot's text, with the round snapshots' escaped quotes undone. */
  private def read(path: Path): String =
    try Files.readString(path).replace("\\\"", "\"")
    catch { case _: java.io.IOException => "" }

  /** Per-query times of a snapshot. Two shapes: our own snapshot (bare JSON
    * line) and a round snapshot's wrapper (escaped, possibly FRONT-TRUNCATED
    * bench output inside a "tail" string, unescaped by [[read]]). Prefer the
    * "queries" object; when truncation ate its opening, fall back to every
    * query-shaped key:number pair (q/x ids can't collide with the wrapper's
    * own numeric fields, which are space-separated anyway). */
  private def parseBench(s: String): Map[String, Double] = {
    val qStart = s.indexOf("\"queries\":{")
    val body = if (qStart >= 0) s.substring(qStart + 11).takeWhile(_ != '}') else s
    "\"([qx][0-9]+[a-z]?)\":([0-9.]+)".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** The task slots a snapshot was taken at: its first `"cpus"` field. */
  private def snapshotCpus(s: String): Option[Int] =
    "\"cpus\"\\s*:\\s*([0-9]+)".r.findFirstMatchIn(s).flatMap(_.group(1).toIntOption)

  /** The variance guard's per-query priors in `dir` for a run at `cpus`
    * task slots: the MIN across BENCH_LATEST.json and the newest committed
    * round snapshot (BENCH_r{N}.json or BENCH_r{N}_c{M}.json), each counted
    * only when its `"cpus"` equals `cpus`. A snapshot taken in a stalled
    * window must not RATCHET the baseline — round 10's x208 read 2.7 s
    * under host load with untouched source, and a guard anchored only to
    * that snapshot would wave the next stall through. A snapshot of another
    * slot count, or one without the field, gives no prior: at 4 slots
    * against a `local[32]` snapshot, 6–12 unchanged queries read as stalls
    * on every run and spent the whole rerun budget. */
  private[graft] def priorsAt(dir: Path, cpus: Int): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val Snapshot = "BENCH_r([0-9]+)(?:_c[0-9]+)?\\.json".r
    def atCpus(name: String): Option[String] =
      Some(read(dir.resolve(name))).filter(snapshotCpus(_).contains(cpus))
    val names =
      try Files.list(dir).iterator().asScala.map(_.getFileName.toString).toList
      catch { case _: java.io.IOException => Nil }
    // newest by ROUND NUMBER — a lexicographic sort would pick r99 over
    // r100 once the zero-pad width is outgrown
    val roundSnap = names
      .collect { case n @ Snapshot(round) => (round.toInt, n) }
      .sortBy(_._1).reverseIterator
      .flatMap { case (_, n) => atCpus(n) }
      .nextOption()
    val maps = (atCpus("BENCH_LATEST.json") ++ roundSnap).toSeq.map(parseBench)
    maps.flatMap(_.keys).distinct
      .map(k => k -> maps.flatMap(_.get(k)).min).toMap
  }

  /** Test hook: the variance-guard threshold formula. */
  private[graft] def guardThreshold(prior: Double): Double =
    math.max(2.5 * prior, prior + 0.5)
}
