package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.app.AppSession
import graft.streaming.{AssemblyStream, CompletedFileWriter, Pipelines}

/** The CLI apps' session lists file-stream micro-batches on the driver.
  * Spark hands each micro-batch's files to its file index as root paths and,
  * past `parallelPartitionDiscovery.threshold` (default 32), lists them in
  * a "Listing leaf files and directories for N paths" job with one task per
  * file. `AppSession.make` disables that: a round trip whose upload batch
  * and consume batch each carry more than 32 files must launch no such job
  * and still bring every file back byte for byte.
  */
class AppSessionListingSpec extends AnyFunSuite {

  test("upload and consume of more than 32 files run no listing job, bytes intact") {
    val root = Files.createTempDirectory("graft_listing")
    val src = root.resolve("src")
    val rnd = new scala.util.Random(17)
    val files: Map[String, Array[Byte]] = (0 until 40).map { i =>
      val data = new Array[Byte](500 + rnd.nextInt(3000)); rnd.nextBytes(data)
      s"d${i % 4}/f$i.bin" -> data
    }.toMap
    files.foreach { case (rel, data) =>
      val p = src.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, data)
    }
    val topic = root.resolve("topic").toString
    val out = root.resolve("out")

    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = AppSession.make("graft-listing-spec")
    val listingJobs = new AtomicInteger
    val marker = s"listing-spec-drained-${root.getFileName}"
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse("")
        if (desc.startsWith("Listing leaf files") && desc.contains(root.toString))
          listingJobs.incrementAndGet()
        if (desc == marker) drained.countDown()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // one partition, hence one topic part file, per source file: the
      // consume batch then also spans more than 32 files
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
      Pipelines.uploadDirectoryStream(spark, src.toString, chunkSize = 1024)
        .writeStream.format("parquet")
        .option("path", topic)
        .option("checkpointLocation", s"$topic/_checkpoint_upload")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      val parts = Files.list(root.resolve("topic")).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(parts > 32, s"topic holds $parts part files; the consume arm needs > 32")

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

      // a job posted after the round trip: once the listener has seen it,
      // it has seen every job before it
      spark.sparkContext.setJobDescription(marker)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setJobDescription(null)
      assert(drained.await(60, TimeUnit.SECONDS))
      assert(listingJobs.get == 0, "file listing ran as a distributed job")

      val written = Files.walk(out).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !out.relativize(p).toString.startsWith("_"))
        .map(p => out.relativize(p).toString).toSet
      assert(written == files.keySet)
      files.foreach { case (rel, data) =>
        assert(java.util.Arrays.equals(Files.readAllBytes(out.resolve(rel)), data), rel)
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("SPARK_GRAFT_CPUS must name a positive integer") {
    Seq("1" -> 1, "4" -> 4, "32" -> 32, "007" -> 7).foreach { case (raw, n) =>
      assert(AppSession.parseCpus(raw).contains(n), raw)
    }
    Seq("", "0", "-2", "+4", " 4", "4.0", "four", "*", "99999999999").foreach { raw =>
      assert(AppSession.parseCpus(raw).isEmpty, s"'$raw'")
    }
  }
}
