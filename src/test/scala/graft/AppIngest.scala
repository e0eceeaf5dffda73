package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.app.AppSession
import graft.streaming.{AssemblyStream, CompletedFileWriter, DiskModeAssembly, Pipelines}

/** One ingest as the apps run it, for specs that watch what an ingest does
  * rather than what it returns. */
object AppIngest {

  /** Writes `files` (relative path → bytes) under `dir`. */
  def writeTree(dir: Path, files: Map[String, Array[Byte]]): Unit =
    files.foreach { case (rel, data) =>
      val p = dir.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, data)
    }

  /** Each phase under `AvailableNow`: upload `src` into a new topic under
    * `root`, then consume it twice, each time decoding with the
    * `_quarantine` sink: the buffered mode writes whole files, the disk mode
    * writes in place and emits manifests. Returns the two directories it
    * wrote files to. */
  def run(spark: SparkSession, src: Path, root: Path): Seq[Path] = {
    val topic = root.resolve("topic").toString
    val out = root.resolve("out")
    val disk = root.resolve("disk")
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
    Seq(out, disk)
  }

  /** Asserts that `out`, outside its `_` directories, holds exactly `files`. */
  def assertTree(out: Path, files: Map[String, Array[Byte]]): Unit = {
    val written = Files.walk(out).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !out.relativize(p).toString.startsWith("_"))
      .map(p => out.relativize(p).toString).toSet
    assert(written == files.keySet, out)
    files.foreach { case (rel, data) =>
      assert(java.util.Arrays.equals(Files.readAllBytes(out.resolve(rel)), data), rel)
    }
  }
}
