package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{ForeachWriter, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.LongAccumulator

import graft.batch.AssembledFile
import graft.streaming.CompletedFileWriter

/** One traced interval. Times are epoch milliseconds; `parent` 0 is the root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double)

/** Task totals of one stage. Updated on the listener-bus thread while the
  * benchmark thread may read them, so every field is an atomic. */
final class StageTotals {
  val tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = new AtomicLong
}

/** The traced run's recorder. Everything it learns comes from listeners and
  * wrappers registered here — a `SparkListener` (jobs, stages, task
  * metrics), a `StreamingQueryListener` (micro-batch progress and state
  * operators), a `QueryExecutionListener` (Catalyst phase times) and the
  * [[TimedWriter]] around the buffered sink. Nothing is written until
  * [[Tracer.finish]], which runs after the session stopped and the listener
  * bus drained.
  *
  * Jobs are tied to the operation that caused them through the local
  * property [[Tracer.OpProp]]: the benchmark thread sets it before each
  * operation, and streaming query threads inherit it from the thread that
  * started them.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNanos) / 1e6

  private val ids = new AtomicLong(0)
  def newId(): Long = ids.incrementAndGet()

  /** Spans the benchmark thread knows directly: workload and operations. */
  val spans = new ConcurrentLinkedQueue[Span]

  private final case class JobRec(jobId: Int, op: String, opSpan: Long,
      queryId: String, batchId: Long, startMs: Long) {
    @volatile var endMs: Long = startMs
  }
  private final case class StageRec(stageId: Int, startMs: Long, endMs: Long)

  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val stageRecs = new ConcurrentLinkedQueue[StageRec]
  private val stageTotals = new ConcurrentHashMap[Int, StageTotals]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]

  /** Streaming query id → (op key, op span, main query?). */
  private val streamOps = new ConcurrentHashMap[String, (String, Long, Boolean)]
  /** Fingerprint executions → (op key, op span); identity-keyed. */
  private val qeOps = new java.util.IdentityHashMap[QueryExecution, (String, Long)]
  private final case class Catalyst(op: String, opSpan: Long, phase: String,
      startMs: Long, endMs: Long)
  private val catalyst = new ConcurrentLinkedQueue[Catalyst]

  /** Nanoseconds spent inside the buffered sink's `process` calls. */
  val sinkNanos: LongAccumulator = spark.sparkContext.longAccumulator("perfbench.sink_ns")

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String): String = if (p == null) null else p.getProperty(k)
      val op = Option(prop(OpProp)).getOrElse("")
      val opSpan = Option(prop(SpanProp)).map(_.toLong).getOrElse(0L)
      val batch = Option(prop("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, JobRec(e.jobId, op, opSpan, prop("sql.streaming.queryId"), batch, e.time))
      e.stageInfos.foreach(s => stageJob.putIfAbsent(s.stageId, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stageRecs.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val t = stageTotals.computeIfAbsent(e.stageId, _ => new StageTotals)
      t.tasks.incrementAndGet()
      if (m != null) {
        t.runMs.addAndGet(m.executorRunTime)
        t.cpuNs.addAndGet(m.executorCpuTime)
        t.gcMs.addAndGet(m.jvmGCTime)
        t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val op = qeOps.synchronized(qeOps.get(qe))
      if (op != null)
        qe.tracker.phases.foreach { case (phase, s) =>
          catalyst.add(Catalyst(op._1, op._2, phase, s.startTimeMs, s.endTimeMs))
        }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs `body` as operation `op` (a phase or a query) under a span. */
  def op[A](key: String, kind: String, parent: Long)(body: Long => A): A = {
    val id = newId()
    val sc = spark.sparkContext
    sc.setLocalProperty(OpProp, key)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = nowMs
    try body(id)
    finally {
      spans.add(Span(id, parent, kind, key, t0, nowMs))
      sc.setLocalProperty(OpProp, null)
      sc.setLocalProperty(SpanProp, null)
    }
  }

  def registerStream(queryId: String, op: String, opSpan: Long, main: Boolean): Unit =
    streamOps.put(queryId, (op, opSpan, main))

  def registerExecution(qe: QueryExecution, op: String, opSpan: Long): Unit =
    qeOps.synchronized(qeOps.put(qe, (op, opSpan)))

  /** Everything recorded, resolved into per-key totals and spans. Call once
    * the session has stopped: stopping drains the listener bus. */
  def finish(): Tracer.Recorded = {
    val stageEnd = stageRecs.asScala.map(s => s.stageId -> s).toMap
    val opOfJob: JobRec => (String, Long) = { j =>
      if (j.queryId != null && streamOps.containsKey(j.queryId)) {
        val (k, s, _) = streamOps.get(j.queryId); (k, s)
      } else (j.op, j.opSpan)
    }
    val byOp = scala.collection.mutable.Map.empty[String, OpTotals]
    def totals(k: String) = byOp.getOrElseUpdate(k, new OpTotals)

    // micro-batch spans, one per progress event of a registered query
    val batchSpan = scala.collection.mutable.Map.empty[(String, Long), Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[Span]
    out ++= spans.asScala
    progress.asScala.foreach { p =>
      val qid = p.id.toString
      Option(streamOps.get(qid)).foreach { case (k, opSpan, main) =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val id = newId()
        batchSpan((qid, p.batchId)) = id
        out += Span(id, opSpan, "batch", s"$k#${p.batchId}", start, start + p.batchDuration)
        if (main) {
          val t = totals(k)
          val d = p.durationMs
          def ms(name: String): Long = Option(d.get(name)).map(_.longValue).getOrElse(0L)
          t.batches += 1
          t.latestOffsetMs += ms("latestOffset")
          t.planningMs += ms("queryPlanning") + ms("getBatch")
          t.addBatchMs += ms("addBatch")
          t.commitMs += ms("walCommit") + ms("commitOffsets")
          p.stateOperators.foreach { s =>
            t.stateRowsPeak = math.max(t.stateRowsPeak, s.numRowsTotal)
            t.stateMemPeak = math.max(t.stateMemPeak, s.memoryUsedBytes)
            t.stateUpdateMs += s.allUpdatesTimeMs
            t.stateCommitMs += s.commitTimeMs
          }
        }
      }
    }
    catalyst.asScala.foreach { c =>
      out += Span(newId(), c.opSpan, "catalyst", c.phase, c.startMs.toDouble, c.endMs.toDouble)
      val t = totals(c.op)
      c.phase match {
        case "analysis" => t.analyzeMs += c.endMs - c.startMs
        case "optimization" => t.optimizeMs += c.endMs - c.startMs
        case "planning" => t.planMs += c.endMs - c.startMs
        case _ =>
      }
    }
    val jobSpan = scala.collection.mutable.Map.empty[Int, Long]
    jobs.values.asScala.foreach { j =>
      val (k, opSpan) = opOfJob(j)
      if (k.nonEmpty) {
        val parent =
          if (j.queryId != null) batchSpan.getOrElse((j.queryId, j.batchId), opSpan) else opSpan
        val id = newId()
        jobSpan(j.jobId) = id
        out += Span(id, parent, "job", s"job${j.jobId}", j.startMs.toDouble, j.endMs.toDouble)
        totals(k).jobs += 1
      }
    }
    stageTotals.asScala.foreach { case (stage, st) =>
      Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        val (k, _) = opOfJob(j)
        if (k.nonEmpty) {
          val t = totals(k)
          t.stages += 1
          t.tasks += st.tasks.get
          t.taskRunMs += st.runMs.get
          t.taskCpuMs += st.cpuNs.get / 1000000
          t.gcMs += st.gcMs.get
          t.shuffleWrite += st.shuffleWrite.get
          t.shuffleRead += st.shuffleRead.get
          t.spill += st.spill.get
          for (s <- stageEnd.get(stage); parent <- jobSpan.get(j.jobId))
            out += Span(newId(), parent, "stage", s"stage$stage",
              s.startMs.toDouble, s.endMs.toDouble)
        }
      }
    }
    Recorded(byOp.toMap, out.toSeq)
  }
}

object Tracer {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"

  /** Totals of one operation key over the traced window. Filled on the
    * benchmark thread in [[Tracer.finish]] only. */
  final class OpTotals {
    var batches, latestOffsetMs, planningMs, addBatchMs, commitMs = 0L
    var stateRowsPeak, stateMemPeak, stateUpdateMs, stateCommitMs = 0L
    var analyzeMs, optimizeMs, planMs = 0L
    var jobs, stages, tasks, taskRunMs, taskCpuMs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
  }

  final case class Recorded(byOp: Map[String, OpTotals], spans: Seq[Span]) {
    def op(key: String): OpTotals = byOp.getOrElse(key, new OpTotals)

    /** Self time per span kind: a span's duration minus the part of it that
      * its children cover. */
    def selfMsByKind: Map[String, Double] = {
      val children = spans.groupBy(_.parent)
      spans.groupBy(_.kind).map { case (kind, ss) =>
        kind -> ss.map { s =>
          val covered = children.getOrElse(s.id, Nil)
            .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
            .filter { case (a, b) => b > a }
            .sortBy(_._1)
            .foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, end), (a, b)) =>
              if (b <= end) (acc, end)
              else (acc + (b - math.max(a, end)), b)
            }._1
          math.max(0.0, (s.endMs - s.startMs) - covered)
        }.sum
      }
    }

    def spansJson: String = spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${Json.esc(s.name)}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Delegating sink: times every `process` call of the shipped
  * [[CompletedFileWriter]] into an accumulator, which Spark merges
  * race-free when each task ends. */
final class TimedWriter(inner: CompletedFileWriter, nanos: LongAccumulator)
    extends ForeachWriter[AssembledFile] {
  override def open(partitionId: Long, epochId: Long): Boolean = inner.open(partitionId, epochId)
  override def process(f: AssembledFile): Unit = {
    val t0 = System.nanoTime()
    inner.process(f)
    nanos.add(System.nanoTime() - t0)
  }
  override def close(errorOrNull: Throwable): Unit = inner.close(errorOrNull)
}
