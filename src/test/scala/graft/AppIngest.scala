package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.app.DownloadDirectoryApp
import graft.batch.{ChunkPipeline, ChunkRow}
import graft.core.Chunker
import graft.streaming.Pipelines

/** One ingest as the apps run it, for specs that watch what an ingest does
  * rather than what it returns. */
object AppIngest {

  /** Writes `files` (relative path → bytes) under `dir`. */
  def writeTree(dir: Path, files: Map[String, Array[Byte]]): Unit =
    files.foreach { case (rel, data) =>
      val p = dir.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, data)
    }

  /** Each phase under `AvailableNow`: upload `src` into a new topic under
    * `root`, then consume it twice through `DownloadDirectoryApp.run`, each
    * time decoding with the `_quarantine` sink: the buffered mode writes
    * whole files, the disk mode writes in place and emits manifests.
    * Returns the two directories it wrote files to. */
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
    DownloadDirectoryApp.run(spark, topic, out.toString)
    DownloadDirectoryApp.run(spark, topic, disk.toString, diskMode = true)
    Seq(out, disk)
  }

  /** Chunks `files` (relative path → bytes) and writes their wire rows to
    * the file-backed topic at `topicDir` in one batch write. */
  def writeTopic(spark: SparkSession, topicDir: String, files: Map[String, Array[Byte]],
      chunkSize: Int = 256): Unit = {
    val chunks = files.toSeq.sortBy(_._1).flatMap { case (rel, data) =>
      val (sub, name) = rel.lastIndexOf('/') match {
        case -1 => ("", rel)
        case i => (rel.substring(0, i), rel.substring(i + 1))
      }
      Chunker.chunk(name, sub, data, chunkSize, Nil, Some(1.0)).map(ChunkRow(_))
    }
    ChunkPipeline.encode(spark.createDataset(chunks)(Encoders.product[ChunkRow]))
      .write.parquet(topicDir)
  }

  /** Deletes the newest entry of the commit log of the streaming checkpoint
    * at `checkpoint`, and its `.crc`, as a crash between a batch's sink
    * write and its commit would leave it: the query's next start replays
    * that batch. Returns the batch id. */
  def forgetLastCommit(checkpoint: Path): Long = {
    val commits = checkpoint.resolve("commits")
    val last = Files.list(commits).iterator().asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    last
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
