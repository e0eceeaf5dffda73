package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Core._

/** Round-4 breadth batch: ordered list aggregation, mode/median, LATERAL
  * top-k, character-class entropy, scalable exact global rank, and robust
  * (median/MAD) outlier detection. Each is a DQ gated on the DuckDB oracle
  * like every other declared query.
  */
object Breadth {

  /** x72: ordered, de-duplicated list aggregation — the reference's
    * registry "which sources produced this run" rollup generalized
    * (producer_file_registry.py keeps per-file provenance rows; the ops
    * question is the per-group distinct list). Determinism is the point:
    * collect_set carries no order, so the engine-portable form is
    * sort-then-join (`array_join(array_sort(collect_set))`), matching
    * DuckDB's `string_agg(DISTINCT ... ORDER BY ...)`. One map-side
    * combining hash agg; the set, not the rows, crosses the wire. */
  val x72 = DQ("x72_string_agg", Some(
    """SELECT lang,
      |  string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)) {
    (spark, dir) =>
      table(spark, dir, "documents")
        .groupBy("lang")
        .agg(
          array_join(array_sort(collect_set(col("source"))), ",").as("sources"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")
  }

  /** x73: mode + median aggregates — the order-statistics pair every
    * data-profiling pass computes. mode() on a binned column whose max
    * frequency is unique per group at every fixture SF (ties are
    * engine-arbitrary, so the query keeps them out of the data, not out of
    * luck — verified in the oracle); median() interpolates on even counts
    * in both engines. Single hash agg; median is the only non-mergeable
    * term (exact sort per group) — the 100 TB path swaps it for
    * approx_percentile (x24's sketch posture). */
  val x73 = DQ("x73_mode_median", Some(
    """SELECT lang,
      |  CAST(mode(n_chars // 200) AS BIGINT) AS mode_bin,
      |  round(median(n_chars), 6) AS med_chars,
      |  round(median(CAST(n_chars AS DOUBLE) / (doc_id % 7 + 1)), 6) AS med_ratio
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)) {
    (spark, dir) =>
      table(spark, dir, "documents")
        .groupBy("lang")
        .agg(
          expr("mode(n_chars div 200)").cast("bigint").as("mode_bin"),
          round(median(col("n_chars")), 6).as("med_chars"),
          round(median(col("n_chars").cast("double") / (col("doc_id") % 7 + 1)), 6)
            .as("med_ratio"))
        .orderBy("lang")
  }

  /** x74: LATERAL correlated subquery with ORDER BY + LIMIT — top-2
    * customers per nation, written as the SQL-standard lateral join rather
    * than the window-function form (q21_group_topk covers that shape).
    * Exercises Catalyst's lateral-join decorrelation: the correlated
    * limit-sort rewrites to a partitioned window internally, so the plan
    * stays one shuffle per side — no per-nation re-scan of customer. */
  val x74 = DQ("x74_lateral_topk", Some(
    """SELECT n.n_name, t.c_name, round(CAST(t.bal AS DOUBLE), 6) AS bal
      |FROM nation n, LATERAL (
      |  SELECT c_name, CAST(c_acctbal AS DECIMAL(12,2)) AS bal
      |  FROM customer c WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY bal DESC, c_name LIMIT 2) t
      |ORDER BY n.n_name, t.bal DESC, t.c_name""".stripMargin)) {
    (spark, dir) =>
      // Ranking stays on the exact DECIMAL; only the surfaced column is the
      // repo-convention rounded DOUBLE (cf. money() queries) — a raw decimal
      // output column is hashed differently by the two engines' drivers.
      table(spark, dir, "nation").createOrReplaceTempView("nation")
      table(spark, dir, "customer").createOrReplaceTempView("customer")
      spark.sql(
        """SELECT n.n_name, t.c_name, round(CAST(t.bal AS DOUBLE), 6) AS bal
          |FROM nation n, LATERAL (
          |  SELECT c_name, CAST(c_acctbal AS DECIMAL(12,2)) AS bal
          |  FROM customer c WHERE c.c_nationkey = n.n_nationkey
          |  ORDER BY bal DESC, c_name LIMIT 2) t
          |ORDER BY n.n_name, t.bal DESC, t.c_name""".stripMargin)
  }

  /** x75: per-language character-class entropy — a corpus-mix diagnostic
    * (a lang slice whose class distribution collapses is boilerplate or
    * mislabeled). Counts are exact BIGINTs accumulated in ONE scan via
    * length-difference counting (regexp_replace with empty replacement);
    * the 5-term -Σ p·ln p runs on the handful of group rows in a fixed
    * class order, so the float work is O(groups), bit-stable, and the
    * whole query is a single map-side-combining hash agg. */
  val x75 = DQ("x75_char_entropy", {
    // class counts: alpha (a-z after lower()), vowels, digits, spaces;
    // consonants = alpha - vowels, other = total - alpha - digits - spaces.
    val classes = Seq("n_vowel", "n_cons", "n_digit", "n_space", "n_other")
    val terms = classes.map(c =>
      s"CASE WHEN $c > 0 THEN (CAST($c AS DOUBLE)/total)*ln(CAST($c AS DOUBLE)/total) ELSE 0 END")
    Some(
      s"""WITH cnt AS (
         |  SELECT lang,
         |    CAST(sum(length(text)) AS BIGINT) AS total,
         |    CAST(sum(length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g'))) AS BIGINT) AS n_alpha,
         |    CAST(sum(length(text) - length(regexp_replace(lower(text), '[aeiou]', '', 'g'))) AS BIGINT) AS n_vowel,
         |    CAST(sum(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS BIGINT) AS n_digit,
         |    CAST(sum(length(text) - length(replace(text, ' ', ''))) AS BIGINT) AS n_space
         |  FROM documents GROUP BY lang),
         |cls AS (
         |  SELECT lang, total, n_vowel, n_alpha - n_vowel AS n_cons, n_digit, n_space,
         |         total - n_alpha - n_digit - n_space AS n_other
         |  FROM cnt)
         |SELECT lang, total, n_vowel, n_cons, n_digit, n_space, n_other,
         |  round(-(${terms.mkString(" + ")}), 6) AS entropy
         |FROM cls ORDER BY lang""".stripMargin)
  }) {
    (spark, dir) =>
      def removed(t: Column, re: String): Column =
        length(t) - length(regexp_replace(t, re, ""))
      val t = col("text")
      val cnt = table(spark, dir, "documents")
        .groupBy("lang")
        .agg(
          sum(length(t)).cast("bigint").as("total"),
          sum(removed(lower(t), "[a-z]")).cast("bigint").as("n_alpha"),
          sum(removed(lower(t), "[aeiou]")).cast("bigint").as("n_vowel"),
          sum(removed(t, "[0-9]")).cast("bigint").as("n_digit"),
          sum(length(t) - length(regexp_replace(t, " ", ""))).cast("bigint").as("n_space"))
        .select(col("lang"), col("total"), col("n_vowel"),
          (col("n_alpha") - col("n_vowel")).as("n_cons"), col("n_digit"), col("n_space"),
          (col("total") - col("n_alpha") - col("n_digit") - col("n_space")).as("n_other"))
      val term: String => Column = c => {
        val p = col(c).cast("double") / col("total")
        when(col(c) > 0, p * log(p)).otherwise(lit(0.0))
      }
      cnt.withColumn("entropy",
          round(-(term("n_vowel") + term("n_cons") + term("n_digit") +
            term("n_space") + term("n_other")), 6))
        .orderBy("lang")
  }

  /** x76: deterministic corpus shuffle into fixed-size shards — the
    * training-data "global shuffle" step (shuffle once by hash, pack into
    * contiguous shards, stream shards in order). The rank comes from
    * [[graft.batch.Joins.globalRank]]: range-partition by the hash, rank
    * within partitions in parallel, add cumulative per-partition offsets —
    * the scalable replacement for the empty-PARTITION-BY window the oracle
    * uses (fine for DuckDB single-node, a one-task bottleneck on a
    * cluster). Shard stats (count + rank contiguity + hash range) verify
    * the two-pass rank is exactly the sequential one. */
  val x76 = DQ("x76_global_shuffle", Some(
    """WITH r AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
      |         row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |SELECT CAST((rn - 1) // 64 AS BIGINT) AS shard, count(*) AS n,
      |  CAST(min(rn) AS BIGINT) AS min_rank, CAST(max(rn) AS BIGINT) AS max_rank,
      |  min(h) AS h_lo, max(h) AS h_hi
      |FROM r GROUP BY 1 ORDER BY shard""".stripMargin)) {
    (spark, dir) =>
      val hashed = table(spark, dir, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      graft.batch.Joins.globalRank(hashed, 32, "h", "doc_id")
        .groupBy(((col("global_rank") - 1) / 64).cast("bigint").as("shard"))
        .agg(count(lit(1)).as("n"),
          min("global_rank").cast("bigint").as("min_rank"),
          max("global_rank").cast("bigint").as("max_rank"),
          min("h").as("h_lo"), max("h").as("h_hi"))
        .orderBy("shard")
  }

  /** x77: robust outlier detection via median/MAD — the heavy-tail-safe
    * z-score every metrics-quality monitor runs (mean/stddev break under
    * the very outliers being hunted). Two aggregate passes (median, then
    * median of absolute deviations) with broadcast joins back to the fact
    * rows — group stats are tiny, so the events scan is the only big
    * input, read twice, shuffled never (beyond the 5-group aggs). */
  val x77 = DQ("x77_mad_outlier", Some(
    """WITH m AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1),
      |d AS (SELECT e.event_type, abs(e.value - m.med) AS dev
      |      FROM events e JOIN m USING (event_type)),
      |md AS (SELECT event_type, median(dev) AS mad FROM d GROUP BY 1)
      |SELECT d.event_type, count(*) AS n,
      |  CAST(count(*) FILTER (WHERE dev > 3 * mad) AS BIGINT) AS n_outlier,
      |  round(min(mad), 6) AS mad
      |FROM d JOIN md USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)) {
    (spark, dir) =>
      val events = table(spark, dir, "events")
      val m = events.groupBy("event_type").agg(median(col("value")).as("med"))
      val d = events.join(broadcast(m), "event_type")
        .select(col("event_type"), abs(col("value") - col("med")).as("dev"))
      val md = d.groupBy("event_type").agg(median(col("dev")).as("mad"))
      d.join(broadcast(md), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L)).as("n_outlier"),
          round(min("mad"), 6).as("mad"))
        .orderBy("event_type")
  }

  /** x78: regex-match generator — `regexp_extract_all` + explode as a
    * constrained tokenizer (q27/x07 tokenize by splitting; this one
    * *generates* rows from pattern matches — the shape of URL/citation/
    * code-span extraction over a crawl). Histogram of matches with a
    * deterministic global top-30 cutoff via orderBy+limit, which plans as
    * TakeOrderedAndProject — per-partition top-30 then a 30-row merge on
    * the driver, never a single-partition sort. */
  val x78 = DQ("x78_regex_extract", Some(
    """SELECT w, count(*) AS n
      |FROM (SELECT unnest(regexp_extract_all(text, '\bs[a-z]{4,}\b')) AS w
      |      FROM documents) t
      |GROUP BY w ORDER BY n DESC, w LIMIT 30""".stripMargin)) {
    (spark, dir) =>
      table(spark, dir, "documents")
        .select(explode(expr("regexp_extract_all(text, '\\\\bs[a-z]{4,}\\\\b', 0)")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w"))
        .limit(30)
  }

  /** x79: weighted sampling without replacement (A-RES, Efraimidis–
    * Spirakis): rank by ln(u)/w where u is a deterministic md5-derived
    * uniform and w = n_chars — longer documents proportionally likelier,
    * yet the draw is reproducible across engines, runs, and retries (the
    * importance-sampling step of corpus mixing, RNG-free like x22/x40).
    * The 13-hex-digit prefix is 52 bits, exact in a double; +1 dodges
    * ln(0). Per-lang top-20 via one window per stratum. */
  val x79 = DQ("x79_weighted_sample", Some(
    """WITH keyed AS (
      |  SELECT lang, doc_id,
      |    ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) + 1)
      |       / 4503599627370496.0) / n_chars AS k
      |  FROM documents)
      |SELECT lang, doc_id, round(k * 1000000, 6) AS key_ppm
      |FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id) AS rn
      |      FROM keyed) t
      |WHERE rn <= 20 ORDER BY lang, key_ppm DESC, doc_id""".stripMargin)) {
    (spark, dir) =>
      val u = (expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 13), 16, 10) as bigint)") + 1)
        .cast("double") / lit(4503599627370496.0) // 2^52
      val k = log(u) / col("n_chars")
      val w = Window.partitionBy("lang").orderBy(col("k").desc, col("doc_id"))
      table(spark, dir, "documents")
        .select(col("lang"), col("doc_id"), k.as("k"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("doc_id"), round(col("k") * 1000000, 6).as("key_ppm"))
        .orderBy(col("lang"), col("key_ppm").desc, col("doc_id"))
  }

  /** x80: discrete percentiles — `percentile_disc` (SQL-standard WITHIN
    * GROUP) returns actual data elements, not interpolations, so the gate
    * is exact value equality with zero float arithmetic (vs x17's
    * interpolated `percentile`/`quantile_cont` under round-6). */
  val x80 = DQ("x80_percentile_disc", Some(
    """SELECT event_type,
      |  quantile_disc(value, 0.25) AS p25,
      |  quantile_disc(value, 0.5) AS p50,
      |  quantile_disc(value, 0.95) AS p95,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)) {
    (spark, dir) =>
      table(spark, dir, "events").createOrReplaceTempView("events_x80")
      spark.sql(
        """SELECT event_type,
          |  percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS p25,
          |  percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
          |  percentile_disc(0.95) WITHIN GROUP (ORDER BY value) AS p95,
          |  count(*) AS n
          |FROM events_x80 GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** x81: bag-semantics set operations — `exceptAll`/`intersectAll`
    * (multiset difference/intersection, per-element min/max-0 counts) vs
    * q17's distinct EXCEPT/INTERSECT. Spark plans these as a count-
    * bookkeeping aggregate + generator replication, not a distinct —
    * duplicates survive exactly as SQL's ALL variants demand. */
  val x81 = DQ("x81_bag_setops", Some(
    """WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_orderkey % 2 = 0),
      |     b AS (SELECT l_suppkey FROM lineitem WHERE l_partkey % 3 = 0)
      |SELECT 'except_all' AS op, count(*) AS n
      |  FROM (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b) t
      |UNION ALL
      |SELECT 'intersect_all' AS op, count(*) AS n
      |  FROM (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b) t
      |ORDER BY op""".stripMargin)) {
    (spark, dir) =>
      val li = table(spark, dir, "lineitem")
      val a = li.filter(col("l_orderkey") % 2 === 0).select("l_suppkey")
      val b = li.filter(col("l_partkey") % 3 === 0).select("l_suppkey")
      val ex = a.exceptAll(b).agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      val in = a.intersectAll(b).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      ex.unionByName(in).select("op", "n").orderBy("op")
  }

  /** x82: recursive CTE (WITH RECURSIVE, Spark 4.x) — the declarative
    * fixpoint: all +3/+7-step paths over an acyclic node graph derived
    * from `nation`, with per-node path counts and depth range. x37
    * computes a connected-components fixpoint with an explicit
    * driver-controlled loop (diameter-bounded, localCheckpoint lineage
    * control — the posture for BIG iterative joins); this is the
    * engine-managed recursion for SMALL closure tables (lineage walks,
    * dependency cascades), where each recursion step is one join the
    * engine replans. Same SQL text runs on both engines. */
  val x82 = DQ("x82_recursive_cte", {
    val sql =
      """WITH RECURSIVE e AS (
        |  SELECT n_nationkey AS u, n_nationkey + 3 AS v FROM nation WHERE n_nationkey + 3 <= 24
        |  UNION ALL
        |  SELECT n_nationkey, n_nationkey + 7 FROM nation WHERE n_nationkey + 7 <= 24),
        |walk(node, depth) AS (
        |  SELECT 0, 0
        |  UNION ALL
        |  SELECT e.v, w.depth + 1 FROM walk w JOIN e ON e.u = w.node)
        |SELECT node, count(*) AS n_paths, CAST(min(depth) AS BIGINT) AS min_depth,
        |       CAST(max(depth) AS BIGINT) AS max_depth
        |FROM walk GROUP BY node ORDER BY node""".stripMargin
    Some(sql)
  }) {
    (spark, dir) =>
      table(spark, dir, "nation").createOrReplaceTempView("nation")
      spark.sql(
        """WITH RECURSIVE e AS (
          |  SELECT n_nationkey AS u, n_nationkey + 3 AS v FROM nation WHERE n_nationkey + 3 <= 24
          |  UNION ALL
          |  SELECT n_nationkey, n_nationkey + 7 FROM nation WHERE n_nationkey + 7 <= 24),
          |walk(node, depth) AS (
          |  SELECT 0, 0
          |  UNION ALL
          |  SELECT e.v, w.depth + 1 FROM walk w JOIN e ON e.u = w.node)
          |SELECT node, count(*) AS n_paths, CAST(min(depth) AS BIGINT) AS min_depth,
          |       CAST(max(depth) AS BIGINT) AS max_depth
          |FROM walk GROUP BY node ORDER BY node""".stripMargin)
  }

  /** x83: SQL-standard `listagg(...) WITHIN GROUP (ORDER BY ...)` — the
    * non-distinct ordered concatenation (x72 covers the distinct-set
    * form). Order is made total by (source, doc_id) so the concatenation
    * is engine-exact. */
  val x83 = DQ("x83_listagg", Some(
    """SELECT lang,
      |  string_agg(substr(source, 4), ',' ORDER BY substr(source, 4), doc_id) AS ids,
      |  count(*) AS n
      |FROM documents WHERE doc_id % 37 = 0
      |GROUP BY lang ORDER BY lang""".stripMargin)) {
    (spark, dir) =>
      table(spark, dir, "documents").createOrReplaceTempView("documents_x83")
      spark.sql(
        """SELECT lang,
          |  listagg(substr(source, 4), ',') WITHIN GROUP (ORDER BY substr(source, 4), doc_id) AS ids,
          |  count(*) AS n
          |FROM documents_x83 WHERE doc_id % 37 = 0
          |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** x84: heavy-hitter terms via the mergeable Misra–Gries sketch
    * ([[graft.batch.Sketches.MisraGries]], a typed Aggregator UDAF) — the
    * fixed-memory top-terms pass that replaces an exact full token
    * groupBy at 100 TB (x24's posture, frequencies instead of distincts/
    * percentiles). Each partition sketches independently (O(k) state),
    * partials merge associatively; only counters cross the wire.
    * ORACLE-EXACT: when the distinct-item count stays ≤ k, MG never
    * decrements and merge never trims, so every counter equals the true
    * frequency at ANY partitioning — the driver corpus has 31 distinct
    * tokens vs k=256, so the exact-groupBy oracle is a hash-match gate,
    * not a bound (the spec separately pins the n/(k+1) error regime on
    * adversarial streams). */
  val x84 = DQ("x84_heavy_hitters", Some(
    """WITH toks AS (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok FROM documents),
      |counts AS (SELECT tok, count(*) AS n FROM toks WHERE tok <> '' GROUP BY tok)
      |SELECT tok AS token, CAST(n AS BIGINT) AS est
      |FROM counts ORDER BY est DESC, token LIMIT 10""".stripMargin)) {
    (spark, dir) =>
      import spark.implicits._
      val toks = spread(table(spark, dir, "documents"))
        .select(explode(Core.tokens(col("text"))).as("tok"))
        .as[String]
      val sketch = new graft.batch.Sketches.MisraGries(256).toColumn
      toks.select(sketch.name("sketch"))
        .select(explode(col("sketch")).as(Seq("token", "est")))
        .orderBy(col("est").desc, col("token"))
        .limit(10)
  }

  /** x85: ordered event-sequence funnel (view → click → purchase, each step
    * within 1 day of the previous) — the MATCH_RECOGNIZE-shaped conversion
    * query every event pipeline runs, built from three chained min-timestamp
    * aggregations instead of a per-user sort: stage N's entry time is the
    * MIN ts of the stage-N event after stage N-1's entry, so each step is a
    * map-side-combining hash agg plus an equi-join on `user_id`. All three
    * aggs and joins share the `user_id` hash partitioning, so Catalyst
    * reuses one exchange of the events scan per stage and the per-user
    * stage tables (≤ one row per user) never widen. No window, no per-user
    * event sort — at 100 TB the events table streams through three narrow
    * agg passes rather than one giant repartition+sort. */
  val x85 = DQ("x85_funnel", Some(
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1
      |         AND e.ts <= s1.t1 + INTERVAL '1 day' GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |         AND e.ts <= s2.t2 + INTERVAL '1 day' GROUP BY 1)
      |SELECT s1.user_id,
      |       CAST(1 + (s2.user_id IS NOT NULL)::INT + (s3.user_id IS NOT NULL)::INT
      |            AS INT) AS stage
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin)) {
    (spark, dir) =>
      val ev = table(spark, dir, "events")
      def step(stage: String, prev: DataFrame, prevT: String, t: String): DataFrame =
        ev.filter(col("event_type") === stage)
          .join(prev, "user_id")
          .filter(col("ts") > col(prevT) &&
            col("ts") <= col(prevT) + expr("INTERVAL 1 DAY"))
          .groupBy("user_id").agg(min("ts").as(t))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = step("click", s1, "t1", "t2")
      val s3 = step("purchase", s2, "t2", "t3")
      s1.join(s2.select(col("user_id"), lit(1).as("h2")), Seq("user_id"), "left")
        .join(s3.select(col("user_id"), lit(1).as("h3")), Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1) + coalesce(col("h2"), lit(0)) + coalesce(col("h3"), lit(0)))
            .cast("int").as("stage"))
        .orderBy("user_id")
  }

  /** x86: SQL-standard `percentile_cont` WITHIN GROUP — the interpolating
    * complement of x80's `percentile_disc` (which returns actual elements).
    * Spark's exact `percentile()` and DuckDB's `percentile_cont` both
    * interpolate linearly at rank (n−1)·p; round(…,6) absorbs the last-ulp
    * formula difference (verified bit-stable at all three fixture SFs).
    * Exact per-group sort — the 100 TB path swaps in approx_percentile
    * (x24's GK-sketch posture) once groups stop fitting an executor. */
  val x86 = DQ("x86_percentile_cont", Some(
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 6) AS p25,
      |  round(percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_extendedprice), 6) AS p50,
      |  round(percentile_cont(0.9)  WITHIN GROUP (ORDER BY l_extendedprice), 6) AS p90
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)) {
    (spark, dir) =>
      // Round 16: order-statistics plan via Joins.exactPercentiles — the
      // interpreted percentile() value-count map (one OpenHashMap of
      // 600k near-unique prices per partial, merged per group on one
      // core) becomes a codegen window rank + interpolation with the
      // same formula, bit-identical output (see the helper's doc).
      graft.batch.Joins.exactPercentiles(
          table(spark, dir, "lineitem")
            .select("l_returnflag", "l_extendedprice"),
          "l_returnflag", "l_extendedprice", Seq(0.25, 0.5, 0.9))
        .select(col("l_returnflag"), col("_ep_n").as("n"),
          round(col("_ep_p0"), 6).as("p25"),
          round(col("_ep_p1"), 6).as("p50"),
          round(col("_ep_p2"), 6).as("p90"))
        .orderBy("l_returnflag")
  }

  /** x87: data-quality audit report — the constraint pass a pipeline runs
    * before admitting a batch (the reference's per-file hash check
    * generalized to table-level invariants): duplicate business keys,
    * referential orphans (left-anti joins), domain-range violations, and
    * derived-column consistency, each emitted as one `(check_name, n_bad)`
    * row. Scale shape: all domain checks on a table fold into ONE scan via
    * conditional aggregation (sum(when)) unpivoted with `stack`; the
    * referential checks are anti-joins that broadcast the small key side;
    * the duplicate check is a map-side-combining count. The final UNION of
    * 1-row frames is driver-trivial at any scale. */
  val x87 = DQ("x87_dq_report", Some(
    """SELECT * FROM (
      |  SELECT 'dup_line_numbers' AS check_name, CAST(count(*) AS BIGINT) AS n_bad
      |  FROM (SELECT l_orderkey, l_linenumber FROM lineitem
      |        GROUP BY 1, 2 HAVING count(*) > 1)
      |  UNION ALL
      |  SELECT 'orphan_lineitem', count(*) FROM lineitem l
      |  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL
      |  UNION ALL
      |  SELECT 'orphan_order', count(*) FROM orders o
      |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL
      |  UNION ALL
      |  SELECT 'lineitem_domain', count(*) FROM lineitem
      |  WHERE l_quantity <= 0 OR l_discount < 0 OR l_discount > 0.1 OR l_tax < 0
      |  UNION ALL
      |  SELECT 'doc_len_mismatch', count(*) FROM documents
      |  WHERE n_chars <> length(text)
      |  UNION ALL
      |  SELECT 'order_null_keys', count(*) FROM orders
      |  WHERE o_orderkey IS NULL OR o_custkey IS NULL
      |) ORDER BY check_name""".stripMargin)) {
    (spark, dir) =>
      val li = table(spark, dir, "lineitem")
      val ord = table(spark, dir, "orders")
      val dup = li.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(count(lit(1)).as("n_bad"))
        .select(lit("dup_line_numbers").as("check_name"), col("n_bad"))
      val orphanLi = li.join(broadcast(ord.select("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_bad"))
        .select(lit("orphan_lineitem").as("check_name"), col("n_bad"))
      val orphanOrd = ord.join(
          broadcast(table(spark, dir, "customer").select("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_bad"))
        .select(lit("orphan_order").as("check_name"), col("n_bad"))
      // one-scan conditional aggregation for all single-table predicates
      val liDomain = li.agg(
          sum(when(col("l_quantity") <= 0 || col("l_discount") < 0 ||
            col("l_discount") > 0.1 || col("l_tax") < 0, 1L).otherwise(0L))
            .as("n_bad"))
        .select(lit("lineitem_domain").as("check_name"), col("n_bad"))
      val docLen = table(spark, dir, "documents")
        .agg(sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
          .as("n_bad"))
        .select(lit("doc_len_mismatch").as("check_name"), col("n_bad"))
      val ordNull = ord.agg(
          sum(when(col("o_orderkey").isNull || col("o_custkey").isNull, 1L)
            .otherwise(0L)).as("n_bad"))
        .select(lit("order_null_keys").as("check_name"), col("n_bad"))
      dup.union(orphanLi).union(orphanOrd).union(liDomain).union(docLen)
        .union(ordNull)
        .orderBy("check_name")
  }

  /** x89: point-in-time snapshot ("AS OF" read) — the registry question
    * "what was each key's state at time T": latest event per user at or
    * before the cutoff, the temporal-table read the reference's
    * dataclass-table registry answers by replaying its log. One map-side-
    * combining `max_by` argmax on the (ts, event_id) order struct — no
    * window, no per-user sort; the cutoff filter pushes to the scan, so at
    * 100 TB only pre-cutoff partitions are read at all (partition-pruned
    * under date partitioning). */
  val x89 = DQ("x89_asof_snapshot", Some(
    """WITH r AS (
      |  SELECT user_id, event_type, ts, event_id,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
      |SELECT user_id, event_type, ts, event_id FROM r WHERE rn = 1
      |ORDER BY user_id""".stripMargin)) {
    (spark, dir) =>
      table(spark, dir, "events")
        .filter(col("ts") <= expr("TIMESTAMP '2024-01-15 00:00:00'"))
        .groupBy("user_id")
        .agg(max_by(
          struct(col("event_type"), col("ts"), col("event_id")),
          struct(col("ts"), col("event_id"))).as("s"))
        .select(col("user_id"), col("s.event_type").as("event_type"),
          col("s.ts").as("ts"), col("s.event_id").as("event_id"))
        .orderBy("user_id")
  }

  /** x90: rolling distinct count over a time-RANGE frame — "how many
    * distinct event types did this user produce in the trailing hour",
    * the per-entity diversity signal rate-limiters and anomaly monitors
    * read. Spark window frames can't take COUNT(DISTINCT), so the
    * engine-portable form is `size(collect_set())` over a RANGE frame on
    * the microsecond epoch (exactly DuckDB's `RANGE INTERVAL '1 hour'
    * PRECEDING`). One shuffle by user, one sort per partition; the frame's
    * distinct set is bounded by the type alphabet. collect_set is not
    * invertible, so Spark re-folds the frame per row — O(events-in-hour)
    * per row, fine at any uniform rate but quadratic for one user with a
    * pathological single-hour burst; the skew escape is the hour-binned
    * self-join (rangeJoinBinned posture), same answer, shuffle-bounded. */
  val x90 = DQ("x90_rolling_distinct", Some(
    """SELECT user_id, event_id,
      |       CAST(count(DISTINCT event_type) OVER
      |         (PARTITION BY user_id ORDER BY ts
      |          RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
      |         AS INT) AS d
      |FROM events ORDER BY user_id, event_id""".stripMargin)) {
    (spark, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"))
        .rangeBetween(-3600000000L, Window.currentRow)
      table(spark, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"),
          size(collect_set(col("event_type")).over(w)).as("d"))
        .orderBy("user_id", "event_id")
  }

  /** x91: share-of-total (ratio_to_report) — each nation's revenue as a
    * fraction of its region and of the world. Both denominators run over
    * the ALREADY-AGGREGATED 25-row frame: the per-region sum is a
    * partitioned window, and the grand total is a 1-row broadcast joined
    * back in — no global window anywhere, so nothing ever funnels through
    * a single partition (and no WindowExec single-partition warning even
    * at this size). Revenue stays DECIMAL through the group-by and both
    * denominators (order-independent, bit-identical across engines); the
    * share is one exact IEEE division of decimal-exact values at the end. */
  val x91 = DQ("x91_share_of_total", Some(
    """WITH rev AS (
      |  SELECT r.r_name AS region, n.n_name AS nation,
      |         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev_d
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2)
      |SELECT region, nation, round(CAST(rev_d AS DOUBLE), 2) AS rev,
      |  round(CAST(rev_d AS DOUBLE) /
      |        CAST(sum(rev_d) OVER (PARTITION BY region) AS DOUBLE), 6) AS share_region,
      |  round(CAST(rev_d AS DOUBLE) /
      |        CAST(sum(rev_d) OVER () AS DOUBLE), 6) AS share_total
      |FROM rev ORDER BY region, nation""".stripMargin)) {
    (spark, dir) =>
      val rev = table(spark, dir, "orders")
        .join(table(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(spark, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(spark, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(sum(money(col("o_totalprice"))).as("rev_d"))
      val wr = Window.partitionBy("region")
      val total = rev.agg(sum(col("rev_d")).as("rev_total"))
      rev.crossJoin(broadcast(total))
        .select(col("region"), col("nation"),
          round(col("rev_d").cast("double"), 2).as("rev"),
          round(col("rev_d").cast("double") /
            sum(col("rev_d")).over(wr).cast("double"), 6).as("share_region"),
          round(col("rev_d").cast("double") /
            col("rev_total").cast("double"), 6).as("share_total"))
        .orderBy("region", "nation")
  }

  /** x92: missing-chunk gap detection — the reference's incomplete-file
    * diagnosis (its registry rows stuck 'in_progress',
    * producer_file_registry.py:54-88) as a set query: given the received
    * chunk stream (a deterministic ~3% md5-keyed drop), report each file's
    * missing indices. Spark side needs NO join: the expected 1..n_total
    * grid is generated in-row next to the received flags, so one map-side-
    * combining agg per doc collects the gap list (`collect_list` of
    * dropped indices) — at 100 TB the chunk stream never meets a second
    * table, while the oracle's LEFT JOIN form re-derives the same answer
    * relationally. */
  val x92 = DQ("x92_missing_chunks", Some(
    s"""WITH $chunksCte,
       |recv AS (SELECT doc_id, chunk_i FROM chunks
       |         WHERE substr(md5(doc_id::VARCHAR || '_' || chunk_i::VARCHAR), 1, 2) >= '08'),
       |miss AS (SELECT c.doc_id, c.chunk_i FROM chunks c LEFT JOIN recv r
       |         ON c.doc_id = r.doc_id AND c.chunk_i = r.chunk_i
       |         WHERE r.doc_id IS NULL)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_missing,
       |       string_agg(chunk_i, ',' ORDER BY chunk_i) AS missing
       |FROM miss GROUP BY 1 ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      chunks(spark, dir)
        .withColumn("received",
          substring(md5(concat(col("doc_id").cast("string"), lit("_"),
            col("chunk_i").cast("string"))), 1, 2) >= "08")
        .groupBy("doc_id")
        .agg(array_sort(collect_list(when(!col("received"), col("chunk_i"))))
          .as("miss"))
        .filter(size(col("miss")) > 0)
        .select(col("doc_id"),
          size(col("miss")).cast("bigint").as("n_missing"),
          array_join(col("miss"), ",").as("missing"))
        .orderBy("doc_id")
  }

  /** x95: per-language distinct-bigram estimates via the mergeable KMV
    * sketch ([[graft.batch.Sketches.Kmv]]) — x24's HLL++ posture with a
    * sketch that ALSO supports set algebra (union/Jaccard across groups,
    * which HLL cannot answer; spec exercises the Jaccard path). O(k) state
    * per group per partition; merge is a deterministic set union, so the
    * estimate is identical at any parallelism (unlike merge-order-dependent
    * sketches). The raw estimate is engine-specific (Scala MurmurHash3),
    * so the DECLARED query is the accuracy audit (x43/x24 pattern): the
    * fixture's ~900 distinct bigrams per lang sit well above k=256, so the
    * estimator regime is genuinely exercised, and `kmv_ok` asserts the
    * estimate lands within 20% of the exact distinct count (k=256 → ~6.3%
    * typical relative error; the spec pins the tighter bound). The oracle
    * recomputes the exact counts and all-TRUE verdicts in SQL. */
  val x95 = DQ("x95_kmv_distinct", Some(
    """WITH t AS (SELECT lang,
      |             list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
      |           FROM documents),
      |g AS (SELECT lang, l[i] || ' ' || l[i+1] AS g
      |      FROM t, unnest(range(1, len(l))) AS u(i) WHERE len(l) > 1)
      |SELECT lang, CAST(count(DISTINCT g) AS BIGINT) AS n_exact, TRUE AS kmv_ok
      |FROM g GROUP BY lang ORDER BY lang""".stripMargin)) {
    (spark, dir) =>
      import spark.implicits._
      // distinct BIGRAMS per language (the fixture vocabulary is ~31 words
      // per lang — unigrams sit below k and come back exact; bigrams cross
      // into the estimator regime at every SF)
      val toks = spread(table(spark, dir, "documents"))
        .select(col("lang"),
          Core.tokens(col("text")).as("l"))
        .filter(size(col("l")) > 1)
        .select(col("lang"), explode(zip_with(
          slice(col("l"), lit(1), size(col("l")) - 1),
          expr("slice(l, 2, size(l) - 1)"),
          (a, b) => concat(a, lit(" "), b))).as("g"))
        .as[(String, String)]
      val est = toks.groupByKey(_._1)
        .mapValues(_._2)
        .agg(new graft.batch.Sketches.Kmv(256).toColumn.name("est_distinct"))
        .toDF("lang", "est_distinct")
      val exact = toks.toDF("lang", "g")
        .groupBy("lang").agg(countDistinct(col("g")).as("n_exact"))
      est.join(broadcast(exact), Seq("lang"))
        .select(col("lang"), col("n_exact"),
          (abs(col("est_distinct") / col("n_exact") - 1.0) <= 0.20).as("kmv_ok"))
        .orderBy("lang")
  }

  /** x96: Count-Min frequency audit — build one mergeable CM sketch over
    * every token ([[graft.batch.Sketches.CountMin]]), then read point
    * estimates for the corpus's exact top-20 tokens next to their true
    * counts. The division of labor with x84: Misra–Gries surfaces the
    * CANDIDATES in one pass; Count-Min answers a frequency question about
    * ANY token after the fact (MG only knows its survivors). The probe set
    * here comes from an exact groupBy (the fixture vocabulary is ~31
    * tokens); at 100 TB the probe set is x84's MG output and the exact
    * branch disappears — only the O(depth·width) grid and 20 probe rows
    * move. Counter layouts are engine-specific, so the DECLARED query is
    * the guarantee audit (x43/x24/x95 pattern): `ok_over` pins
    * overestimate-only (est ≥ true, unconditional for CM) and `ok_bound`
    * pins est ≤ true + ⌈e·n/width⌉ (the 1−δ bound, deterministic for a
    * fixed corpus and hash family); the oracle recomputes the exact top-20
    * counts and all-TRUE verdicts in SQL. The spec additionally pins both
    * at 1/2/8 partitions. */
  val x96 = DQ("x96_countmin_freqs", Some(
    """WITH toks AS (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok FROM documents),
      |counts AS (SELECT tok, count(*) AS n FROM toks WHERE tok <> '' GROUP BY tok)
      |SELECT tok, CAST(n AS BIGINT) AS n_exact, TRUE AS ok_over, TRUE AS ok_bound
      |FROM counts ORDER BY n_exact DESC, tok LIMIT 20""".stripMargin)) {
    (spark, dir) =>
      import spark.implicits._
      val toks = spread(table(spark, dir, "documents"))
        .select(explode(Core.tokens(col("text"))).as("tok"))
      val depth = 4; val width = 1024
      // the typed Aggregator's product output lands as flattened top-level
      // columns (counts, n) — one row holding the whole grid
      val cmDs = toks.as[String]
        .select(new graft.batch.Sketches.CountMin(depth, width)
          .toColumn.name("cm"))
        .toDF("counts", "n")
      val probes = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("tok")).limit(20)
      val est = udf((counts: Seq[Long], tok: String) =>
        graft.batch.Sketches.CountMin.estimate(counts, depth, width, tok))
      probes.crossJoin(broadcast(cmDs))
        .select(col("tok"), col("n_exact"),
          est(col("counts"), col("tok")).as("n_est"), col("n"))
        .select(col("tok"), col("n_exact"),
          (col("n_est") >= col("n_exact")).as("ok_over"),
          (col("n_est") <= col("n_exact") +
            ceil(col("n") * 2.718281828 / width).cast("bigint")).as("ok_bound"))
        .orderBy(col("n_exact").desc, col("tok"))
  }

  /** x97: per-language 10-document sample via the mergeable bottom-k sketch
    * ([[graft.batch.Sketches.BottomK]]) — the SAME deterministic md5-rank
    * selection as x36's window quota sampler, computed with O(k) state per
    * partition and a union-then-trim merge instead of sorting each stratum.
    * Because the selection is a pure function of the item set, the DuckDB
    * row_number-over-md5 oracle reproduces it EXACTLY — a full hash-match
    * gate on a sketch, not a rows-only check: the sketch and the sort
    * provably agree, so swapping one for the other at scale changes
    * nothing but the shuffle. */
  val x97 = DQ("x97_bottomk_sample", Some(
    """WITH ranked AS (
      |  SELECT lang, doc_id,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT lang, doc_id, CAST(rk AS INT) AS rk
      |FROM ranked WHERE rk <= 10 ORDER BY lang, rk""".stripMargin)) {
    (spark, dir) =>
      import spark.implicits._
      table(spark, dir, "documents")
        .select(col("lang"), col("doc_id").cast("string").as("d"))
        .as[(String, String)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(new graft.batch.Sketches.BottomK(10).toColumn.name("sample"))
        .toDF("lang", "sample")
        .select(col("lang"), posexplode(col("sample")).as(Seq("pos", "d")))
        .select(col("lang"), col("d").cast("bigint").as("doc_id"),
          (col("pos") + 1).cast("int").as("rk"))
        .orderBy("lang", "rk")
  }

  /** x98: type-2 slowly-changing-dimension history (SCD2) — run-length
    * encode each user's event_type transitions into versioned validity
    * intervals `[valid_from, valid_to)` with an open current row: the
    * registry-history build (the reference's file registry is exactly this
    * per-file state machine — upload → in_progress → completed; dataclass
    * _table rewrites current state, this derives the full history a
    * temporal query like x89 reads). Gaps-and-islands over ONE user_id
    * exchange: change flags (lag), run ids (running sum), interval bounds
    * (groupBy), next-start (lead) all share the same partitioning, so the
    * three windows + aggregation plan a single shuffle; at 100 TB users
    * sort independently inside their partitions and nothing global ever
    * orders. */
  val x98 = DQ("x98_scd2_history", Some(
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |chg AS (
      |  SELECT user_id, event_type, us, event_id,
      |         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |              THEN 1 ELSE 0 END AS is_chg
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |runs AS (
      |  SELECT user_id, event_type, us,
      |         sum(is_chg) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS ver
      |  FROM chg),
      |hist AS (
      |  SELECT user_id, CAST(ver AS INT) AS ver, max(event_type) AS event_type,
      |         min(us) AS valid_from_us, CAST(count(*) AS BIGINT) AS n_events
      |  FROM runs GROUP BY user_id, ver)
      |SELECT user_id, ver, event_type, valid_from_us,
      |       lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY ver) AS valid_to_us,
      |       n_events,
      |       lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY ver) IS NULL AS is_current
      |FROM hist ORDER BY user_id, ver""".stripMargin)) {
    (spark, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wVer = Window.partitionBy("user_id").orderBy("ver")
      val prev = lag(col("event_type"), 1).over(w)
      table(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("is_chg",
          when(prev.isNull || prev =!= col("event_type"), 1).otherwise(0))
        .withColumn("ver", sum("is_chg").over(wRun).cast("int"))
        .groupBy("user_id", "ver")
        .agg(max("event_type").as("event_type"),
          min("us").as("valid_from_us"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("ver"), col("event_type"),
          col("valid_from_us"),
          lead(col("valid_from_us"), 1).over(wVer).as("valid_to_us"),
          col("n_events"),
          lead(col("valid_from_us"), 1).over(wVer).isNull.as("is_current"))
        .orderBy("user_id", "ver")
  }

  /** x99: x79's weighted sample computed by the mergeable A-RES sketch
    * ([[graft.batch.Sketches.ARes]]) instead of a per-stratum window sort —
    * the ORACLE IS X79'S, verbatim: both engines rank by ln(u)/w with the
    * same md5-derived 52-bit uniform, so the sketch, the window sampler,
    * and DuckDB all select the identical 20 documents per language. O(k)
    * state per partition and a union-then-trim merge replace the stratum
    * sort (x97's trick, weight-aware); at 100 TB only 20 entries per
    * (lang, partition) ever cross the wire. */
  val x99 = DQ("x99_weighted_sample_sketch", Some(
    """WITH keyed AS (
      |  SELECT lang, doc_id,
      |    ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) + 1)
      |       / 4503599627370496.0) / n_chars AS k
      |  FROM documents)
      |SELECT lang, doc_id, round(k * 1000000, 6) AS key_ppm
      |FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id) AS rn
      |      FROM keyed) t
      |WHERE rn <= 20 ORDER BY lang, key_ppm DESC, doc_id""".stripMargin)) {
    (spark, dir) =>
      import spark.implicits._
      table(spark, dir, "documents")
        .select(col("lang"), col("doc_id").cast("string").as("d"), col("n_chars"))
        .as[(String, String, Long)]
        .groupByKey(_._1)
        .mapValues(t => (t._2, t._3))
        .agg(new graft.batch.Sketches.ARes(20).toColumn.name("sample"))
        .toDF("lang", "sample")
        .select(col("lang"), explode(col("sample")).as("e"))
        .select(col("lang"), col("e.value").cast("bigint").as("doc_id"),
          round(col("e.k") * 1000000, 6).as("key_ppm"))
        .orderBy(col("lang"), col("key_ppm").desc, col("doc_id"))
  }

  /** x101: per-group top-k via the native bounded-state aggregate
    * ([[graft.functions.TopKRows]], a TypedImperativeAggregate over
    * InternalRow) — q21g/x74's "top 3 per supplier" WITHOUT sorting any
    * group: O(k) state per (group, partition), map-side combining, so a
    * hot supplier's million rows reduce to 3 entries before the exchange
    * (the window form must gather and sort every group's rows; this is
    * the skew-proof shape at 100 TB). Earlier rounds ran this through a
    * typed Dataset Aggregator, whose per-row tuple Encoder round trip made
    * it ~4.5× slower than the window form; the ObjectHashAggregate path
    * consumes rows directly. The row_number oracle proves the bounded
    * buffer selects exactly the window's rows — x97/x99's
    * sketch-equals-sort contract, applied to ranking.
    * [[graft.batch.Sketches.TopKBy]] remains the typed-API face for
    * streaming/sketch composition. */
  val x101 = DQ("x101_group_topk_sketch", Some(
    """SELECT l_suppkey, rk, price_cents, l_orderkey, l_linenumber FROM (
      |  SELECT l_suppkey,
      |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_cents,
      |         l_orderkey, l_linenumber,
      |         row_number() OVER (PARTITION BY l_suppkey
      |                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
      |  FROM lineitem) t
      |WHERE rk <= 3 ORDER BY l_suppkey, rk""".stripMargin)) {
    (spark, dir) =>
      table(spark, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(graft.functions.TopKRows.topkRows(
          (money(col("l_extendedprice")) * 100).cast("bigint"),
          col("l_orderkey"), col("l_linenumber").cast("long"), 3).as("top"))
        .select(col("l_suppkey"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("l_suppkey"),
          (col("pos") + 1).cast("int").as("rk"),
          col("e.key").as("price_cents"),
          col("e.a").as("l_orderkey"),
          col("e.b").cast("int").as("l_linenumber"))
        .orderBy("l_suppkey", "rk")
  }

  /** x129: KMV set ALGEBRA — the capability that picked KMV over HLL in
    * x95, exercised for real: per-language bigram sketches
    * ([[graft.batch.Sketches.KmvValues]] surfaces the raw k-minima states)
    * combine pairwise into union-distinct and Jaccard ESTIMATES — the
    * "how much does corpus A overlap corpus B" question answered from
    * O(k) state per side, no co-shuffle of the corpora (at 100 TB the two
    * sides can live in different lakes; only 2·k hashes meet). Sketch
    * internals are engine-specific (MurmurHash3), so the DECLARED query is
    * the accuracy audit (x95/x24 pattern): exact per-pair union/Jaccard
    * recomputed corpus-side, `ok_union` pins the union estimate within
    * 20%, `ok_jaccard` the Jaccard within 0.15 absolute (k=256 → ~6%
    * typical), and the oracle reproduces the exact values + all-TRUE
    * verdicts. Pair metrics evaluate as array expressions over the 10
    * combined rows — no UDF, no driver math. */
  val x129 = DQ("x129_kmv_setops", Some(
    """WITH t AS (SELECT lang,
      |             list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
      |           FROM documents),
      |g AS (SELECT DISTINCT lang, l[i] || ' ' || l[i+1] AS g
      |      FROM t, unnest(range(1, len(l))) AS u(i) WHERE len(l) > 1),
      |nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS nd FROM g GROUP BY 1),
      |inter AS (
      |  SELECT x.lang AS l1, y.lang AS l2, CAST(count(*) AS BIGINT) AS ni
      |  FROM g x JOIN g y ON x.g = y.g AND x.lang < y.lang GROUP BY 1, 2),
      |p AS (SELECT a.lang AS l1, b.lang AS l2, a.nd AS nd1, b.nd AS nd2
      |      FROM nl a JOIN nl b ON a.lang < b.lang)
      |SELECT p.l1, p.l2,
      |       CAST(p.nd1 + p.nd2 - coalesce(i.ni, 0) AS BIGINT) AS n_union,
      |       round(CAST(coalesce(i.ni, 0) AS DOUBLE) /
      |             (p.nd1 + p.nd2 - coalesce(i.ni, 0)), 6) AS jaccard,
      |       TRUE AS ok_union, TRUE AS ok_jaccard
      |FROM p LEFT JOIN inter i ON p.l1 = i.l1 AND p.l2 = i.l2
      |ORDER BY p.l1, p.l2""".stripMargin)) {
    (spark, dir) =>
      import spark.implicits._
      val K = 256
      val toks = spread(table(spark, dir, "documents"))
        .select(col("lang"), Core.tokens(col("text")).as("l"))
        .filter(size(col("l")) > 1)
        .select(col("lang"), explode(zip_with(
          slice(col("l"), lit(1), size(col("l")) - 1),
          expr("slice(l, 2, size(l) - 1)"),
          (a, b) => concat(a, lit(" "), b))).as("g"))
      // Round 16 (§2.3): ONE tokenize+explode pass — the distinct
      // (lang, bigram) set materializes once and feeds the KMV sketch
      // build, the per-lang exact counts AND both sides of the exact
      // intersection self-join (Kmv.reduce dedups by hash, so the sketch
      // of the distinct set is the SAME sketch). A/B of the cut
      // (CHANGES.md): cut 0.86 s, no cut 1.26 s, repartition 1.30 s
      val sets = toks.distinct().localCheckpoint()
      val sk = sets.as[(String, String)]
        .groupByKey(_._1).mapValues(_._2)
        .agg(new graft.batch.Sketches.KmvValues(K).toColumn.name("sk"))
        .toDF("lang", "sk")
      // 5 sketch rows self-pair (l1 < l2): 10 rows, broadcast by design
      val pairs = sk.select(col("lang").as("l1"), col("sk").as("sa"))
        .join(broadcast(sk.select(col("lang").as("l2"), col("sk").as("sb"))),
          col("l1") < col("l2"))
        .withColumn("u", expr(s"slice(array_sort(array_distinct(concat(sa, sb))), 1, $K)"))
        .withColumn("est_union",
          when(size(col("u")) < K, size(col("u")).cast("double"))
            .otherwise(lit((K - 1).toDouble) /
              ((element_at(col("u"), K).cast("double") + 1.0) /
                Long.MaxValue.toDouble)))
        .withColumn("est_j",
          when(size(col("u")) === 0, lit(0.0))
            .otherwise(size(expr(
              "filter(u, h -> array_contains(sa, h) AND array_contains(sb, h))"))
              .cast("double") / size(col("u"))))
        .select("l1", "l2", "est_union", "est_j")
      // exact side: the same distinct (lang, bigram) sets, pair intersections
      val nl = sets.groupBy("lang").agg(count(lit(1)).as("nd"))
      val inter = sets.select(col("lang").as("l1"), col("g"))
        .join(sets.select(col("lang").as("l2"), col("g")), Seq("g"))
        .filter(col("l1") < col("l2"))
        .groupBy("l1", "l2").agg(count(lit(1)).as("ni"))
      val exact = nl.select(col("lang").as("l1"), col("nd").as("nd1"))
        .join(broadcast(nl.select(col("lang").as("l2"), col("nd").as("nd2"))),
          col("l1") < col("l2"))
        .join(broadcast(inter), Seq("l1", "l2"), "left_outer")
        .withColumn("ni", coalesce(col("ni"), lit(0L)))
        .withColumn("n_union", col("nd1") + col("nd2") - col("ni"))
        .withColumn("jaccard",
          round(col("ni").cast("double") / col("n_union"), 6))
      exact.join(broadcast(pairs), Seq("l1", "l2"))
        .select(col("l1"), col("l2"), col("n_union"), col("jaccard"),
          (abs(col("est_union") / col("n_union") - 1.0) <= 0.20).as("ok_union"),
          (abs(col("est_j") - col("ni").cast("double") / col("n_union")) <= 0.15)
            .as("ok_jaccard"))
        .orderBy("l1", "l2")
  }

  val all: Seq[DQ] = Seq(x72, x73, x74, x75, x76, x77, x78, x79, x80, x81,
    x82, x83, x84, x85, x86, x87, x89, x90, x91, x92, x95, x96, x97, x98, x99,
    x101, x129)
}
