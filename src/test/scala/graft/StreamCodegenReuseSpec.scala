package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.app.AppSession
import graft.streaming.{AssemblyStream, CompletedFileWriter, DiskModeAssembly, Pipelines}

/** Spark keeps generated classes in a cache keyed on the task's class
  * loader and the generated source. With artifact isolation on, every
  * streaming query runs its tasks under a class loader of its own, so an
  * identical second query missed the cache and compiled every class again.
  * The app session and the spec session turn isolation off
  * ([[AppSession.StaticSettings]]), and the assembly state encoders are
  * built once; a second ingest, the same queries on fresh directories,
  * must then compile nothing.
  */
class StreamCodegenReuseSpec extends AnyFunSuite with LocalSpark {

  private val rnd = new scala.util.Random(29)
  private val files: Map[String, Array[Byte]] = (0 until 6).map { i =>
    val data = new Array[Byte](300 + rnd.nextInt(2500)); rnd.nextBytes(data)
    s"d${i % 2}/f$i.bin" -> data
  }.toMap

  /** One ingest as the apps run it, each phase under `AvailableNow`:
    * upload `src` into a new topic, then consume it twice, each time
    * decoding with the `_quarantine` sink: the buffered mode writes whole
    * files, the disk mode writes in place and emits manifests. Returns the
    * Janino compiles it took and the two directories it wrote files to. */
  private def ingest(src: Path, root: Path): (Long, Seq[Path]) = {
    val topic = root.resolve("topic").toString
    val out = root.resolve("out")
    val disk = root.resolve("disk")
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Pipelines.uploadDirectoryStream(spark, src.toString, chunkSize = 1024)
      .writeStream.format("parquet")
      .option("path", topic)
      .option("checkpointLocation", s"$topic/_checkpoint_upload")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    val (good, qBad) = AppSession.consumeWithQuarantine(spark, topic, out.toString)
    AssemblyStream.assemble(good, timeoutMs = 0)
      .writeStream
      .foreach(new CompletedFileWriter(out.toString))
      .outputMode("append")
      .option("checkpointLocation", s"$out/_checkpoint_download")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    qBad.awaitTermination()
    val (goodDisk, qBadDisk) = AppSession.consumeWithQuarantine(spark, topic, disk.toString)
    DiskModeAssembly.assemble(goodDisk, disk.toString, timeoutMs = 0)
      .writeStream.format("parquet")
      .option("path", s"$disk/_manifests")
      .option("checkpointLocation", s"$disk/_checkpoint_download_disk")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    qBadDisk.awaitTermination()
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, Seq(out, disk))
  }

  test("a second identical ingest compiles no class") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    val root = Files.createTempDirectory("graft_codegen_reuse")
    val src = root.resolve("src")
    files.foreach { case (rel, data) =>
      val p = src.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, data)
    }
    try {
      val (first, out1) = ingest(src, root.resolve("run1"))
      val (second, out2) = ingest(src, root.resolve("run2"))
      info(s"Janino compiles: first ingest $first, second ingest $second")
      (out1 ++ out2).foreach { out =>
        val written = Files.walk(out).iterator().asScala
          .filter(p => Files.isRegularFile(p) && !out.relativize(p).toString.startsWith("_"))
          .map(p => out.relativize(p).toString).toSet
        assert(written == files.keySet, out)
        files.foreach { case (rel, data) =>
          assert(java.util.Arrays.equals(Files.readAllBytes(out.resolve(rel)), data), rel)
        }
      }
      assert(second == 0, s"second ingest compiled $second classes (first: $first)")
    } finally Harness.rmTree(root)
  }
}
