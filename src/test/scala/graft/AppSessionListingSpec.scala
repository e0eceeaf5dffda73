package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.app.{AppSession, DownloadDirectoryApp}
import graft.streaming.Pipelines

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
    AppIngest.writeTree(src, files)
    val topic = root.resolve("topic").toString
    val out = root.resolve("out")

    LocalSpark.isolated(AppSession.make("graft-listing-spec")) { spark =>
      val listingJobs = LocalSpark.jobsDuring(spark, { e =>
        val desc = LocalSpark.description(e)
        desc.startsWith("Listing leaf files") && desc.contains(root.toString)
      }) {
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

        DownloadDirectoryApp.run(spark, topic, out.toString)
      }
      assert(listingJobs == 0, "file listing ran as a distributed job")
      AppIngest.assertTree(out, files)
    }
  }

  test("the app session and the spec session carry every static setting") {
    assert(AppSession.StaticSettings.nonEmpty)
    LocalSpark.isolated(AppSession.make("graft-settings-spec")) { app =>
      AppSession.StaticSettings.foreach { case (k, v) =>
        assert(LocalSpark.session.conf.get(k) == v, s"spec session: $k")
        assert(app.conf.get(k) == v, s"app session: $k")
      }
    }
  }

  test("SPARK_GRAFT_CPUS must name a positive integer") {
    Seq("1" -> 1, "4" -> 4, "32" -> 32, "007" -> 7).foreach { case (raw, n) =>
      assert(AppSession.parsePositive(raw).contains(n), raw)
      assert(AppSession.cpus(Map("SPARK_GRAFT_CPUS" -> raw)) == Right(n), raw)
    }
    Seq("", "0", "-2", "+4", " 4", "4.0", "four", "*", "99999999999").foreach { raw =>
      assert(AppSession.parsePositive(raw).isEmpty, s"'$raw'")
      assert(AppSession.cpus(Map("SPARK_GRAFT_CPUS" -> raw)) ==
        Left(s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'"))
    }
    // unset: every processor the JVM sees
    assert(AppSession.cpus(Map.empty) == Right(Runtime.getRuntime.availableProcessors))
    // Prof's and Bench's run counts and StreamBench's scale go through the
    // same check
    Seq("SPARK_GRAFT_PROF_N" -> 3, "SPARK_GRAFT_BENCH_N" -> 3,
        "SPARK_GRAFT_STREAM_SCALE" -> 1).foreach { case (name, unset) =>
      assert(AppSession.positiveSetting(name, unset, Map.empty) == Right(unset))
      assert(AppSession.positiveSetting(name, unset, Map(name -> "5")) == Right(5))
      Seq("", "0", "-1", "abc", "2.5", "99999999999").foreach { raw =>
        assert(AppSession.positiveSetting(name, unset, Map(name -> raw)) ==
          Left(s"$name must be a positive integer, got '$raw'"))
      }
    }
  }
}
