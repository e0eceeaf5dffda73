package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.app.AppSession
import graft.core.{Assembly, ChunkCodec, Chunker}
import graft.streaming.{AssemblyStream, CompletedFileWriter, DiskModeAssembly, Pipelines}

/** The chunk → topic → reassemble dataflow over one seeded corpus, in the
  * three phases the CLI apps run, each an `AvailableNow` catch-up pass:
  *
  *  - `streaming.upload`: `Pipelines.uploadDirectoryStream` → parquet topic
  *    (UploadDirectoryApp);
  *  - `streaming.assembly`: `ChunkPipeline.decodeOrDeadLetter` →
  *    `AssemblyStream.assemble` → `CompletedFileWriter` (DownloadDirectoryApp);
  *  - `streaming.disk_assembly`: the same decode → `DiskModeAssembly.assemble`
  *    → positioned writes plus a parquet manifest sink (DownloadDirectoryApp
  *    `--disk-mode`).
  *
  * Every pass starts from an empty topic and empty outputs, and checks after
  * each consume that every source file came back with its sha256, that
  * disk-mode manifests read `Complete` for every file, and that nothing
  * went to `_quarantine`.
  */
final class Ingest(o: Main.Opts) extends Workload {
  import Ingest._

  private val corpus = Paths.get(o("corpus"))
  private val warmCorpus = Paths.get(o("warm-corpus"))
  /** `relative path → (bytes, sha256 hex)` of every corpus file. */
  private val manifest: Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(o("manifest"))).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(rel, size, sha) = l.split('\t'); rel -> (size.toLong, sha)
      }.toMap
  private val mb = manifest.values.map(_._1).sum / 1048576.0
  /** Topic data bytes summed over the traced passes. */
  private var topicBytes = 0L

  /** The set-up's warm-up corpus already brings every phase to speed: a
    * first full-size pass runs as fast as the next. */
  val warmPasses = 0
  /** Passes take seconds: two of them per run. */
  val minPasses = 2

  def setUp(spark: SparkSession): Unit = {
    val p = cycle(spark, warmCorpus, o.work.resolve("setup"), None, check = false)
    require(p.failed == 0, "warm-up pass failed")
  }

  def pass(spark: SparkSession, index: Int, trace: Option[(Tracer, Long)]): Pass =
    cycle(spark, corpus, o.work.resolve(s"pass$index"), trace, check = true,
      flipByte = index == 0 && o.inject.contains("flip-byte"))

  private def cycle(spark: SparkSession, src: Path, base: Path, trace: Option[(Tracer, Long)],
      check: Boolean, flipByte: Boolean = false): Pass = {
    val topic = base.resolve("topic").toString
    val outBuf = base.resolve("out_buffered")
    val outDisk = base.resolve("out_disk")
    def op(key: String)(body: Long => Boolean): (String, Double, Double, Boolean) = {
      val (ok, s, cpu) = Stats.timedCpu(
        try trace.fold(body(0L)) { case (t, parent) => t.op(key, "op", parent)(body) }
        catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] $key failed: $e"); false
        })
      (key, s, cpu, ok)
    }
    def register(q: org.apache.spark.sql.streaming.StreamingQuery, key: String,
        span: Long, main: Boolean): Unit =
      trace.foreach(_._1.registerStream(q.id.toString, key, span, main))

    val produce = op(Upload) { span =>
      val q = Pipelines.uploadDirectoryStream(spark, src.toString)
        .writeStream.format("parquet")
        .option("path", topic)
        .option("checkpointLocation", s"$topic/_checkpoint_upload")
        .trigger(Trigger.AvailableNow())
        .start()
      register(q, Upload, span, main = true)
      q.awaitTermination()
      true
    }
    if (trace.isDefined) topicBytes += dataBytes(base.resolve("topic"))

    val buffered = op(Buffered) { span =>
      val (good, qBad) = AppSession.consumeWithQuarantine(spark, topic, outBuf.toString)
      register(qBad, Buffered, span, main = false)
      val writer = new CompletedFileWriter(outBuf.toString)
      val q = AssemblyStream.assemble(good, timeoutMs = 0)
        .writeStream
        .foreach(trace.fold[org.apache.spark.sql.ForeachWriter[graft.batch.AssembledFile]](writer)(
          t => new TimedWriter(writer, t._1.sinkNanos)))
        .outputMode("append")
        .option("checkpointLocation", s"$outBuf/_checkpoint_download")
        .trigger(Trigger.AvailableNow())
        .start()
      register(q, Buffered, span, main = true)
      q.awaitTermination()
      qBad.awaitTermination()
      true
    }
    if (flipByte) {
      val f = outBuf.resolve(manifest.keys.min)
      val b = Files.readAllBytes(f)
      b(b.length / 2) = (b(b.length / 2) ^ 1).toByte
      Files.write(f, b)
    }
    val bufferedOk = !check || (filesMatch(outBuf) && quarantineEmpty(spark, outBuf))

    val disk = op(Disk) { span =>
      val (good, qBad) = AppSession.consumeWithQuarantine(spark, topic, outDisk.toString)
      register(qBad, Disk, span, main = false)
      val q = DiskModeAssembly.assemble(good, outDisk.toString, timeoutMs = 0)
        .writeStream.format("parquet")
        .option("path", s"$outDisk/_manifests")
        .option("checkpointLocation", s"$outDisk/_checkpoint_download_disk")
        .trigger(Trigger.AvailableNow())
        .start()
      register(q, Disk, span, main = true)
      q.awaitTermination()
      qBad.awaitTermination()
      true
    }
    val diskOk = !check || (filesMatch(outDisk) && quarantineEmpty(spark, outDisk) &&
      manifestsComplete(spark, outDisk))
    deleteTree(base)

    val results = Seq(produce, buffered.copy(_4 = buffered._4 && bufferedOk),
      disk.copy(_4 = disk._4 && diskOk))
    Pass(results.map(r => r._1 -> r._2), results.map(r => r._1 -> r._3),
      results.size, results.count(!_._4))
  }

  private def filesMatch(out: Path): Boolean = {
    val bad = manifest.filter { case (rel, (_, sha)) =>
      val f = out.resolve(rel)
      !Files.isRegularFile(f) || sha256(f) != sha
    }.keys
    bad.foreach(r => System.err.println(s"[perfbench] $out: $r missing or wrong sha256"))
    bad.isEmpty
  }

  private def quarantineEmpty(spark: SparkSession, out: Path): Boolean = {
    val q = out.resolve("_quarantine")
    val n = if (Files.isDirectory(q)) spark.read.parquet(q.toString).count() else 0L
    if (n != 0) System.err.println(s"[perfbench] $q holds $n rows")
    n == 0
  }

  private def manifestsComplete(spark: SparkSession, out: Path): Boolean = {
    import spark.implicits._
    val m = spark.read.parquet(out.resolve("_manifests").toString)
      .select($"rel_filepath", $"code").as[(String, Int)].collect()
    val complete = m.filter(_._2 == Assembly.Code.Complete).map(_._1).toSet
    val ok = complete == manifest.keySet && m.length == manifest.size
    if (!ok) System.err.println(
      s"[perfbench] manifests: ${complete.size} Complete of ${manifest.size} files, ${m.length} rows")
    ok
  }

  def perLayer(untraced: Passes, traced: Passes, rec: Tracer.Recorded,
      sinkMs: Double): Map[String, Double] = {
    val n = traced.count.toDouble
    val cores = Main.cores
    val wallMs = traced.all.flatMap(_.seconds).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).sum * 1000 }
    val u = untraced.medians()
    val phases = Seq(Upload, Buffered, Disk).flatMap { p =>
      val t = rec.op(p)
      Seq(
        s"$p.batches" -> t.batches / n,
        s"$p.latest_offset_ms" -> t.latestOffsetMs / n,
        s"$p.planning_ms" -> t.planningMs / n,
        s"$p.commit_ms" -> t.commitMs / n,
        s"$p.add_batch_ms" -> t.addBatchMs / n,
        s"$p.task_run_ms" -> t.taskRunMs / n,
        s"$p.gc_ms" -> t.gcMs / n,
        s"$p.slot_idle_ms" -> (wallMs.getOrElse(p, 0.0) * cores - t.taskRunMs) / n)
    }
    val state = Seq(Buffered, Disk).flatMap { p =>
      val t = rec.op(p)
      Seq(
        s"$p.state_rows_peak" -> t.stateRowsPeak.toDouble,
        s"$p.state_mem_peak_bytes" -> t.stateMemPeak.toDouble,
        s"$p.state_update_ms" -> t.stateUpdateMs / n,
        s"$p.state_commit_ms" -> t.stateCommitMs / n,
        s"$p.shuffle_write_bytes" -> t.shuffleWrite / n)
    }
    (phases ++ state ++ Seq(
      s"$Upload.topic_bytes_per_src_byte" ->
        topicBytes / n / (mb * 1048576.0),
      "streaming.sink.write_ms" -> sinkMs / n,
      "produce_mb_s" -> mb / u(Upload),
      "consume_buffered_mb_s" -> mb / u(Buffered),
      "consume_disk_mb_s" -> mb / u(Disk))).toMap
  }

  /** The `core` kernel arm: direct single-thread calls into `Chunker.chunk`,
    * `ChunkCodec.pack`/`unpack` and the `Assembly.step`…`finish` fold over
    * the corpus, repeated until each kernel has run for half a second. */
  override def kernels(): Map[String, Double] = {
    val secs = Array.fill(4)(0.0)
    var bytes = 0L
    while (secs.min < 0.5) manifest.keys.toSeq.sorted.foreach { rel =>
      val content = Files.readAllBytes(corpus.resolve(rel))
      val (dir, name) = rel.lastIndexOf('/') match {
        case -1 => ("", rel)
        case i => (rel.substring(0, i), rel.substring(i + 1))
      }
      val (chunks, t0) = Stats.timed(Chunker.chunk(name, dir, content))
      val (packed, t1) = Stats.timed(chunks.map(ChunkCodec.pack))
      val (unpacked, t2) = Stats.timed(packed.map(ChunkCodec.unpack))
      val ((code, _), t3) = Stats.timed {
        val s = unpacked.foldLeft(Option.empty[Assembly.State])((s, c) => Some(Assembly.step(s, c)._1))
        Assembly.finish(rel, name, s.get)
      }
      require(code == Assembly.Code.Complete, s"core arm: $rel assembled with code $code")
      Seq(t0, t1, t2, t3).zipWithIndex.foreach { case (t, i) => secs(i) += t }
      bytes += content.length
    }
    val mbs = bytes / 1048576.0
    Seq("core.chunk_mb_s", "core.pack_mb_s", "core.unpack_mb_s", "core.assemble_mb_s")
      .zip(secs).map { case (k, s) => k -> mbs / s }.toMap
  }

  def traceReport(rec: Tracer.Recorded, traced: Passes): String = {
    val phases = Seq(Upload, Buffered, Disk).map { p =>
      val t = rec.op(p)
      s""""$p":{"batches":${t.batches},"latest_offset_ms":${t.latestOffsetMs},""" +
        s""""planning_ms":${t.planningMs},"add_batch_ms":${t.addBatchMs},""" +
        s""""commit_ms":${t.commitMs},"jobs":${t.jobs},"stages":${t.stages},"tasks":${t.tasks},""" +
        s""""task_run_ms":${t.taskRunMs},"shuffle_write_bytes":${t.shuffleWrite}}"""
    }.mkString("{", ",", "}")
    val self = rec.selfMsByKind.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    s"""{"workload":"${o.workload}","traced_passes":${traced.count},"phases":$phases,""" +
      s""""self_ms":$self,"spans":${rec.spansJson}}"""
  }
}

object Ingest {
  val Upload = "streaming.upload"
  val Buffered = "streaming.assembly"
  val Disk = "streaming.disk_assembly"

  def sha256(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Bytes of the topic's data files (checkpoint and sink log excluded). */
  def dataBytes(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .filterNot(p => dir.relativize(p).iterator().asScala.exists(_.toString.startsWith("_")))
      .map(Files.size).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq
    all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
  }
}
