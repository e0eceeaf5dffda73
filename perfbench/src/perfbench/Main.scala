package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.app.AppSession

/** Benchmark main. `perfbench/run.py` builds the classes, generates the
  * seeded inputs and starts this main with:
  *
  * {{{
  * --workload W --seed N --seconds S --trace 0|1 --work DIR
  *   [--corpus DIR --warm-corpus DIR --manifest FILE]      (ingest workloads)
  *   [--tables DIR --fingerprints FILE --scale LABEL]      (query_mix)
  *   [--trace-out FILE] [--inject flip-byte|bad-fingerprint]
  * }}}
  *
  * One process, one session shape: every set-up builds its session with
  * [[graft.app.AppSession.make]], the config the CLI apps ship. The last
  * line of stdout is the result JSON.
  */
object Main {

  final case class Opts(flags: Map[String, String]) {
    def apply(k: String): String =
      flags.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = flags.get(k)
    def workload: String = apply("workload")
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def trace: Boolean = apply("trace") == "1"
    def work: Path = Paths.get(apply("work"))
    def inject: Option[String] = get("inject")
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  /** Task slots of the session (`local[N]`), set once the session exists. */
  var cores = 1

  /** End-to-end metrics, printed on every workload with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "pass_cpu_s" -> "s")

  private val phaseLayers = Seq("batches" -> "count", "latest_offset_ms" -> "ms",
    "planning_ms" -> "ms", "commit_ms" -> "ms", "add_batch_ms" -> "ms",
    "task_run_ms" -> "ms", "gc_ms" -> "ms", "slot_idle_ms" -> "ms")
  private val stateLayers = Seq("state_rows_peak" -> "count",
    "state_mem_peak_bytes" -> "bytes", "state_update_ms" -> "ms",
    "state_commit_ms" -> "ms", "shuffle_write_bytes" -> "bytes")

  /** Per-layer metrics, printed on every workload with `--trace 1`; a layer
    * the workload does not run reads 0. */
  val PerLayer: Seq[(String, String)] =
    Seq("produce_mb_s", "consume_buffered_mb_s", "consume_disk_mb_s").map(_ -> "MB/s") ++
    Seq("query_total_s" -> "s", "query_geomean_ms" -> "ms") ++
    Seq("chunk", "pack", "unpack", "assemble").map(k => s"core.${k}_mb_s" -> "MB/s") ++
    Seq(Ingest.Upload, Ingest.Buffered, Ingest.Disk).flatMap(p =>
      phaseLayers.map { case (k, u) => s"$p.$k" -> u }) ++
    Seq(s"${Ingest.Upload}.topic_bytes_per_src_byte" -> "ratio") ++
    Seq(Ingest.Buffered, Ingest.Disk).flatMap(p =>
      stateLayers.map { case (k, u) => s"$p.$k" -> u }) ++
    Seq("streaming.sink.write_ms" -> "ms") ++
    Seq("build_ms" -> "ms", "build_jobs" -> "count", "analyze_ms" -> "ms",
      "optimize_ms" -> "ms", "plan_ms" -> "ms", "jobs" -> "count", "stages" -> "count",
      "tasks" -> "count", "exec_ms" -> "ms", "task_run_ms" -> "ms", "task_cpu_ms" -> "ms",
      "gc_ms" -> "ms", "slot_idle_ms" -> "ms", "shuffle_write_bytes" -> "bytes",
      "shuffle_read_bytes" -> "bytes", "spill_bytes" -> "bytes").map { case (k, u) => s"queries.$k" -> u } ++
    Seq("workload", "op", "batch", "catalyst", "job", "stage").map(k => s"trace.${k}_self_ms" -> "ms") ++
    Seq("trace.spans" -> "count", "trace.overhead_pct" -> "%")

  def main(argv: Array[String]): Unit = {
    val flags = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val o = Opts(flags)
    if (o.get("pin").isDefined) {
      val spark = AppSession.make("perfbench-pin")
      try QueryMix.pin(spark, o("pin"), o("scale")) finally spark.stop()
      return
    }
    val w: Workload = o.workload match {
      case "ingest_small_files" | "ingest_large_files" => new Ingest(o)
      case "query_mix" => new QueryMix(o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    println(Result.json(run(o, w)))
    System.out.flush()
    sys.exit(0)
  }

  /** Set up [[SetupReps]] times, then measure for `--seconds` after the
    * workload's warm passes: the whole window untraced, or with `--trace 1`
    * its first half untraced and its second half traced. Every pass checks
    * its outputs. */
  def run(o: Opts, w: Workload): Result = {
    val processStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = AppSession.make("perfbench")
    cores = spark.sparkContext.defaultParallelism
    w.setUp(spark)
    val first = (System.currentTimeMillis() - processStart) / 1000.0
    val again = (2 to SetupReps).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = AppSession.make("perfbench")
      w.setUp(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = Stats.median(first +: again)
    System.err.println(f"[perfbench] set-ups: ${(first +: again).map(x => f"$x%.2f").mkString(" ")} s")

    val window = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - window) / 1e9
    var index = 0
    // Timed passes start until the window has elapsed, and at least `min` times.
    def measure(into: Passes, until: Double, min: Int, trace: Option[(Tracer, Long)]): Unit =
      while (into.count < min || elapsed < until) {
        into.add(w.pass(spark, index, trace))
        index += 1
      }
    val warm = new Passes("warm")
    (1 to w.warmPasses).foreach { _ =>
      warm.add(w.pass(spark, index, None))
      index += 1
    }
    val untraced = new Passes("untraced")
    val traced = new Passes("traced")
    measure(untraced, if (o.trace) o.seconds / 2 else o.seconds,
      if (o.trace) 1 else w.minPasses, None)

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    tracer.foreach { t =>
      t.install()
      val root = t.newId()
      val t0 = t.nowMs
      measure(traced, o.seconds, 1, Some((t, root)))
      t.spans.add(Span(root, 0, "workload", o.workload, t0, t.nowMs))
    }
    val kernels = if (o.trace) w.kernels() else Map.empty[String, Double]
    spark.stop()

    val passes = Seq(warm, untraced, traced)
    val failures = passes.map(_.failed).sum
    val metrics: Map[String, Double] = tracer match {
      case None =>
        w.endToEnd(untraced) ++ Map("setup_s" -> setupS, "peak_rss_mb" -> Stats.peakRssMb())
      case Some(t) =>
        val rec = t.finish()
        o.get("trace-out").foreach { f =>
          Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
          Files.writeString(Paths.get(f), w.traceReport(rec, traced))
        }
        val n = traced.count.toDouble
        val self = rec.selfMsByKind
        val overhead = 100.0 * (Stats.total(traced) - Stats.total(untraced)) / Stats.total(untraced)
        w.perLayer(untraced, traced, rec, t.sinkNanos.value / 1e6) ++ kernels ++
          Seq("workload", "op", "batch", "catalyst", "job", "stage")
            .map(k => s"trace.${k}_self_ms" -> self.getOrElse(k, 0.0) / n) ++
          Map("trace.spans" -> rec.spans.size / n, "trace.overhead_pct" -> overhead)
    }
    val names = if (o.trace) PerLayer else EndToEnd
    val unknown = metrics.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the metric list: $unknown")
    Result(failures == 0, passes.map(_.attempted).sum, failures,
      names.map { case (k, u) => k -> (metrics.getOrElse(k, 0.0), u) })
  }
}

/** One workload: its set-up, one pass of timed operations, and its metrics. */
trait Workload {
  /** Untimed fixtures and warm-up, run after each session is built. */
  def setUp(spark: SparkSession): Unit
  /** Untimed passes that open the window, checked like the others. */
  def warmPasses: Int
  /** Timed passes an untraced run makes at least, whatever the window. */
  def minPasses: Int
  /** One pass over the workload's operations, checking every output. */
  def pass(spark: SparkSession, index: Int, trace: Option[(Tracer, Long)]): Pass
  def endToEnd(p: Passes): Map[String, Double] =
    Map("pass_cpu_s" -> p.medians(_.cpuSeconds).values.sum)
  def perLayer(untraced: Passes, traced: Passes, rec: Tracer.Recorded,
      sinkMs: Double): Map[String, Double]
  /** Single-thread kernel rates (`core.*`), traced runs only. */
  def kernels(): Map[String, Double] = Map.empty
  def traceReport(rec: Tracer.Recorded, traced: Passes): String
}

/** Wall and process-CPU seconds of each operation of one pass, and its
  * check outcome. */
final case class Pass(seconds: Seq[(String, Double)], cpuSeconds: Seq[(String, Double)],
    attempted: Int, failed: Int)

final class Passes(label: String) {
  val all = scala.collection.mutable.ArrayBuffer.empty[Pass]
  def add(p: Pass): Unit = {
    all += p
    System.err.println(f"[perfbench] $label pass ${all.size}: ${p.seconds.map(_._2).sum}%.2f s, " +
      p.seconds.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
  }
  def count: Int = all.size
  def attempted: Int = all.map(_.attempted).sum
  def failed: Int = all.map(_.failed).sum
  /** Median seconds of each operation across passes (wall by default). */
  def medians(of: Pass => Seq[(String, Double)] = _.seconds): Map[String, Double] =
    all.flatMap(of).groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2).toSeq) }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def total(p: Passes): Double = p.medians().values.sum
  def geomeanMs(p: Passes): Double = {
    val v = p.medians().values.map(_ * 1000.0)
    math.exp(v.map(math.log).sum / v.size)
  }
  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Like [[timed]], adding the CPU seconds of all the process's threads. */
  def timedCpu[A](f: => A): (A, Double, Double) = {
    val c0 = os.getProcessCpuTime
    val (a, s) = timed(f)
    (a, s, (os.getProcessCpuTime - c0) / 1e9)
  }
}

final case class Result(correct: Boolean, attempted: Int, failed: Int,
    metrics: Seq[(String, (Double, String))])

object Result {
  def json(r: Result): String = {
    val ms = r.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},"metrics":$ms}"""
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
