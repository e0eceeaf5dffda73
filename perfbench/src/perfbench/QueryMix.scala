package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

import graft.SparkEntry

/** A fixed list of `SparkEntry.registry` queries over the test tables, run
  * one after another in a seeded order per pass. Each query's result is
  * consumed by [[QueryMix.fingerprint]], which executes the query's own
  * physical plan and folds every row into a count and an order-insensitive
  * hash; both must equal the pinned values in `fingerprints.tsv`.
  *
  * A query's time is its build (`fn(spark, dir)`: table resolution and the
  * DataFrame, plus any jobs the build itself runs) and its execution.
  */
final class QueryMix(o: Main.Opts) extends Workload {
  import QueryMix._

  private val tables = o("tables")
  private val pinned: Map[String, (Long, Long)] = {
    val all = loadPins(o("fingerprints"), o("scale"))
    if (o.inject.contains("bad-fingerprint")) {
      val (rows, h) = all(Queries.head); all.updated(Queries.head, (rows, h + 1))
    } else all
  }
  require(Queries.forall(pinned.contains),
    s"no pinned fingerprint for ${Queries.filterNot(pinned.contains).mkString(", ")}")

  /** Build and execution seconds of every traced query run. */
  private val tracedRuns = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]

  /** A query's first run in the process generates and compiles its code,
    * which later runs reuse; one warm pass keeps that out of the timing. */
  val warmPasses = 1
  val minPasses = 1

  def setUp(spark: SparkSession): Unit = {
    val setups = graft.queries.Dataflow.fixtureSetups.toMap
    Queries.flatMap(setups.get).foreach(_(spark, tables))
    WarmUp.foreach(n => SparkEntry.queries(n)(spark, tables).write.mode("overwrite").format("noop").save())
    sweep(spark)
  }

  def pass(spark: SparkSession, index: Int, trace: Option[(Tracer, Long)]): Pass = {
    val order = new scala.util.Random(o.seed * 1000003L + index).shuffle(Queries)
    val runs = order.map { name =>
      val fn = SparkEntry.queries(name)
      val sc = spark.sparkContext
      var build = 0.0
      val (ok, secs, cpu) = Stats.timedCpu {
        try {
          def body(span: Long): Boolean = {
            trace.foreach(_ => sc.setLocalProperty(Tracer.OpProp, BuildPrefix + name))
            val (df, b) = Stats.timed(fn(spark, tables))
            build = b
            trace.foreach(_ => sc.setLocalProperty(Tracer.OpProp, name))
            val got = fingerprint(df, name)(qe => trace.foreach(_._1.registerExecution(qe, name, span)))
            val ok = pinned.get(name).contains(got)
            if (!ok) System.err.println(
              s"[perfbench] $name: fingerprint $got, pinned ${pinned.get(name)}")
            ok
          }
          trace.fold(body(0L)) { case (t, parent) => t.op(name, "op", parent)(body) }
        } catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e"); false
        }
      }
      sweep(spark)
      if (trace.isDefined) tracedRuns += ((name, build, secs - build))
      (name, secs, cpu, ok)
    }
    Pass(runs.map(r => r._1 -> r._2), runs.map(r => r._1 -> r._3), runs.size, runs.count(!_._4))
  }

  def perLayer(untraced: Passes, traced: Passes, rec: Tracer.Recorded,
      sinkMs: Double): Map[String, Double] = {
    val n = traced.count.toDouble
    val exec = Queries.map(rec.op)
    val build = Queries.map(q => rec.op(BuildPrefix + q))
    val both = exec ++ build
    def sum(f: Tracer.OpTotals => Long, ts: Seq[Tracer.OpTotals] = both): Double = ts.map(f).sum / n
    val wallMs = tracedRuns.map(r => r._2 + r._3).sum * 1000
    Map(
      "query_total_s" -> Stats.total(untraced),
      "query_geomean_ms" -> Stats.geomeanMs(untraced),
      "queries.build_ms" -> tracedRuns.map(_._2).sum * 1000 / n,
      "queries.build_jobs" -> sum(_.jobs, build),
      "queries.analyze_ms" -> sum(_.analyzeMs, exec),
      "queries.optimize_ms" -> sum(_.optimizeMs, exec),
      "queries.plan_ms" -> sum(_.planMs, exec),
      "queries.jobs" -> sum(_.jobs, exec),
      "queries.stages" -> sum(_.stages),
      "queries.tasks" -> sum(_.tasks),
      "queries.exec_ms" -> tracedRuns.map(_._3).sum * 1000 / n,
      "queries.task_run_ms" -> sum(_.taskRunMs),
      "queries.task_cpu_ms" -> sum(_.taskCpuMs),
      "queries.gc_ms" -> sum(_.gcMs),
      "queries.slot_idle_ms" -> (wallMs * Main.cores - both.map(_.taskRunMs).sum) / n,
      "queries.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "queries.shuffle_read_bytes" -> sum(_.shuffleRead),
      "queries.spill_bytes" -> sum(_.spill))
  }

  /** Per-query breakdown keyed by the short ids `graft.Bench` prints. */
  def traceReport(rec: Tracer.Recorded, traced: Passes): String = {
    val n = traced.count.toDouble
    val rows = Queries.sorted.map { q =>
      val e = rec.op(q)
      val b = rec.op(BuildPrefix + q)
      val runs = tracedRuns.filter(_._1 == q)
      def avg(x: Double) = Json.num(x / n)
      s""""${shortId(q)}":{"name":"$q","build_ms":${avg(runs.map(_._2).sum * 1000)},""" +
        s""""exec_ms":${avg(runs.map(_._3).sum * 1000)},"build_jobs":${avg(b.jobs)},""" +
        s""""analyze_ms":${avg(e.analyzeMs)},"optimize_ms":${avg(e.optimizeMs)},""" +
        s""""plan_ms":${avg(e.planMs)},"jobs":${avg(e.jobs)},""" +
        s""""stages":${avg(e.stages + b.stages)},"tasks":${avg(e.tasks + b.tasks)},""" +
        s""""task_run_ms":${avg(e.taskRunMs + b.taskRunMs)},""" +
        s""""shuffle_write_bytes":${avg(e.shuffleWrite + b.shuffleWrite)}}"""
    }.mkString("{\n", ",\n", "\n}")
    val self = rec.selfMsByKind.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    s"""{"workload":"${o.workload}","traced_passes":${traced.count},"queries":$rows,""" +
      s""""self_ms":$self,"spans":${rec.spansJson}}"""
  }
}

object QueryMix {

  /** Short queries: DataFrame build, Catalyst and job scheduling take most
    * of their time. */
  val Short: Seq[String] = Seq(
    "q01_projection", "q04_hash_integrity", "q08_offset_gate", "q10_json_build",
    "q24_date_histogram", "q25_exact_dedup", "x15_vec_centroids", "x20_pivot",
    "x60_gear_cdc", "x78_regex_extract", "x141_webp_tiff_dims", "x215_chat_masking")

  /** Heavy queries, where executor time dominates. */
  val Heavy: Seq[String] = Seq("x86_percentile_cont")

  val Queries: Seq[String] = Short ++ Heavy

  /** Untimed warm-up per set-up: cheap queries outside the list over the
    * order, document and embedding tables. */
  val WarmUp: Seq[String] = Seq("q21_topk", "x07_token_stats", "q26_cosine_topk")

  private val BuildPrefix = "build:"

  /** Frees the checkpointed RDDs a query leaves behind, between (never
    * inside) timed queries, as `graft.Bench` does. */
  def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** `(rows, hash)`: the row count and the wrapping sum of each row's
    * XXH64 over its UnsafeRow bytes. Executes `df`'s own physical plan as
    * one SQL execution, so listeners see it like any action. */
  def fingerprint(df: DataFrame, name: String)(register: QueryExecution => Unit): (Long, Long) = {
    val qe = df.queryExecution
    register(qe)
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some(s"perfbench $name")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var rows = 0L
        var h = 0L
        while (it.hasNext) {
          val u = proj(it.next())
          rows += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        Iterator.single((rows, h))
      }.collect().foldLeft((0L, 0L)) { case ((r, h), (r2, h2)) => (r + r2, h + h2) }
    }
  }

  /** `fingerprints.tsv` rows: `scale  query  rows  hash`. */
  def loadPins(file: String, scale: String): Map[String, (Long, Long)] =
    Files.readAllLines(Paths.get(file)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t'))
      .collect { case Array(`scale`, q, rows, h) => q -> (rows.toLong, java.lang.Long.parseUnsignedLong(h, 16)) }
      .toMap

  /** Prints `fingerprints.tsv` rows for a `graft.Verify` dump directory
    * (one parquet directory per query). */
  def pin(spark: SparkSession, dump: String, scale: String): Unit =
    Queries.sorted.foreach { q =>
      val (rows, h) = fingerprint(spark.read.parquet(s"$dump/$q"), q)(_ => ())
      println(s"$scale\t$q\t$rows\t${java.lang.Long.toHexString(h)}")
    }

  /** The short id `graft.Bench` keys a query by: its id prefix, plus the
    * next token's first letter where two registry queries share the prefix. */
  def shortId(name: String): String = {
    val dup = SparkEntry.registry.map(_.name.split('_')(0))
      .groupBy(identity).collect { case (id, g) if g.size > 1 => id }.toSet
    val parts = name.split('_')
    if (dup(parts(0)) && parts.length > 1) parts(0) + parts(1).head else parts(0)
  }
}
