package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.app.AppSession

/** Streaming-dataflow throughput benchmark — the engine's REASON TO EXIST
  * (chunk → produce → consume → reassemble) measured end to end, which the
  * SQL bench never touches. Three corpus shapes stress the three state
  * regimes: many small files (state-entry churn), mid-size (the reference's
  * bread and butter), few large files (payload-in-state pressure — the
  * disk-mode assembler's whole point). Per shape and phase it reports MB/s
  * and chunk rows/s over the driver-default 128 KiB chunk size:
  *
  *   - produce: watched dir → [[graft.core.Chunker]] → sha512 + msgpack
  *     wire codec → file-backed topic (parquet, availableNow)
  *   - consume_buffered: topic → decode → [[graft.streaming.AssemblyStream]]
  *     (flatMapGroupsWithState on the RocksDB state store, payload
  *     buffered in state) → verified whole files on disk
  *   - consume_disk: topic → decode → [[graft.streaming.DiskModeAssembly]]
  *     (positioned writes, offsets-only state) → verified manifests
  *
  * Every reassembled byte is digest-compared with its source; a mismatch
  * fails the run — a throughput number for an incorrect pipeline is
  * worthless. One JSON line on stdout (Bench's contract), plus a bare copy
  * at STREAM_BENCH_LATEST.json (SPARK_GRAFT_STREAM_BENCH_OUT overrides).
  * SPARK_GRAFT_STREAM_SCALE=k scales file counts (default 1).
  */
object StreamBench {

  private def sha256(p: java.nio.file.Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val rawCpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val cpus = AppSession.parseCpus(rawCpus).getOrElse(
      AppSession.fail(s"SPARK_GRAFT_CPUS must be a positive integer, got '$rawCpus'"))
    val scale = sys.env.get("SPARK_GRAFT_STREAM_SCALE")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ >= 1).getOrElse(1)
    val chunkSize = 128 * 1024
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-stream-bench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // (label, nFiles, bytesPerFile): 128 / 256 / 256 MB at scale 1
    val scenarios = Seq(
      ("many_small", 512 * scale, 256 * 1024),
      ("medium", 64 * scale, 4 * 1024 * 1024),
      ("few_large", 8 * scale, 32 * 1024 * 1024))

    val results = scenarios.map { case (label, nFiles, bytesPer) =>
      val base = Files.createTempDirectory(s"streambench-$label")
      val srcDir = base.resolve("src"); Files.createDirectories(srcDir)
      val topicDir = base.resolve("topic").toString
      val outBuf = base.resolve("out_buffered").toString
      val outDisk = base.resolve("out_disk").toString
      // deterministic corpus: per-file seeded PRNG bytes
      (0 until nFiles).foreach { i =>
        val rnd = new java.util.Random(0x5eedL * (i + 1))
        val b = new Array[Byte](bytesPer)
        rnd.nextBytes(b)
        Files.write(srcDir.resolve(f"f$i%05d.bin"), b)
      }
      val totalMb = nFiles.toLong * bytesPer / 1024.0 / 1024.0
      val srcDigests = (0 until nFiles).map { i =>
        val n = f"f$i%05d.bin"; n -> sha256(srcDir.resolve(n))
      }.toMap

      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }

      // ---- produce: chunk + wire-encode into the file-backed topic
      val (_, tProduce) = timed {
        val wire = graft.streaming.Pipelines.uploadDirectoryStream(
          spark, srcDir.toString, chunkSize)
        val q = wire.writeStream.format("parquet")
          .option("path", topicDir)
          .option("checkpointLocation", s"$topicDir/_checkpoint_upload")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val chunkRows = spark.read.parquet(topicDir).count()

      def consume(outDir: String, disk: Boolean,
          provider: String = "rocksdb"): Double = {
        // like-for-like backend comparison: the provider is a per-query
        // SQLConf, so each consume arm pins it explicitly
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          if (provider == "hdfs")
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
          else
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val (_, t) = timed {
          val wire = spark.readStream
            .schema("key STRING, value BINARY")
            .parquet(topicDir)
          val chunks = graft.batch.ChunkPipeline.decode(wire)
          val q =
            if (disk)
              graft.streaming.DiskModeAssembly.assemble(chunks, outDir, timeoutMs = 0)
                .writeStream.format("parquet")
                .option("path", s"$outDir/_manifests")
                .option("checkpointLocation", s"$outDir/_checkpoint")
                .trigger(Trigger.AvailableNow())
                .start()
            else
              graft.streaming.AssemblyStream.assemble(chunks, timeoutMs = 0)
                .writeStream
                .foreach(new graft.streaming.CompletedFileWriter(outDir))
                .outputMode("append")
                .option("checkpointLocation", s"$outDir/_checkpoint")
                .trigger(Trigger.AvailableNow())
                .start()
          q.awaitTermination()
        }
        // correctness gate: every file byte-identical to its source
        srcDigests.foreach { case (name, want) =>
          val got = Paths.get(outDir, name)
          require(Files.exists(got), s"[$outDir] missing $name")
          require(sha256(got) == want, s"[$outDir] digest mismatch for $name")
        }
        if (disk) {
          val m = spark.read.parquet(s"$outDir/_manifests")
          val verified = m.filter($"code" === graft.core.Assembly.Code.Complete).count()
          require(verified == nFiles,
            s"disk-mode manifests: $verified verified of $nFiles")
        }
        t
      }

      val tBuf = consume(outBuf, disk = false)
      val tDisk = consume(outDisk, disk = true)
      // the fMGWS arms again on the HDFS-backed provider — the two
      // backends compared like-for-like on identical input
      val outBufH = base.resolve("out_buffered_hdfs").toString
      val outDiskH = base.resolve("out_disk_hdfs").toString
      val tBufH = consume(outBufH, disk = false, provider = "hdfs")
      val tDiskH = consume(outDiskH, disk = true, provider = "hdfs")

      // best-effort cleanup so three shapes don't stack tmp usage
      def rm(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(q => Files.deleteIfExists(q))
      }
      rm(base)

      (label, totalMb, chunkRows, tProduce, tBuf, tDisk, tBufH, tDiskH)
    }

    def f1(v: Double): String = f"$v%.1f"
    val js = results.map { case (label, mb, rows, tp, tb, td, tbh, tdh) =>
      s""""$label":{"mb":${f1(mb)},"chunks":$rows,""" +
        s""""produce_s":${f1(tp)},"produce_mb_s":${f1(mb / tp)},""" +
        s""""buffered_s":${f1(tb)},"buffered_mb_s":${f1(mb / tb)},"buffered_rows_s":${f1(rows / tb)},""" +
        s""""disk_s":${f1(td)},"disk_mb_s":${f1(mb / td)},"disk_rows_s":${f1(rows / td)},""" +
        s""""buffered_hdfs_mb_s":${f1(mb / tbh)},"disk_hdfs_mb_s":${f1(mb / tdh)},""" +
        s""""verified":true}"""
    }.mkString("{", ",", "}")
    val total = results.map(r => r._4 + r._5 + r._6 + r._7 + r._8).sum
    val json =
      s"""{"metric":"stream_total","value":${f1(total)},"unit":"sec","chunk_kb":${chunkSize / 1024},"scale":$scale,"scenarios":$js}"""
    println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH_OUT", "STREAM_BENCH_LATEST.json")
    try Files.write(Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception => System.err.println(s"[stream-bench] write $out: ${e.getMessage}") }
    spark.stop()
  }
}
