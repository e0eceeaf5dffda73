package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.app.AppSession

/** State-store scaling study: how the two assembler arms (payload-buffered
  * vs disk-mode) behave as the number of IN-FLIGHT partial files sweeps
  * 10³ → 10⁵ — the reference's known failure mode is unbounded
  * `files_in_progress_by_path` growth
  * (stream_handler_registries.py:19-51), so the engine's claim that
  * eviction + offsets-only state keep 10⁵ partials cheap needs NUMBERS,
  * not prose. Per (arm, n): wall time, chunk rows/s, and the state rows /
  * state bytes actually reported by the store (via the
  * [[graft.streaming.Heartbeats.StateRegistry]] listener — the same
  * telemetry a production stream would record).
  *
  * Corpus shape per n: n files × 3 chunks of 1 KiB; 90% of files are
  * missing their last chunk (they STAY in state), 10% complete (output
  * flows, so the run exercises emission too). RocksDB provider for both
  * arms (the HDFS-vs-RocksDB comparison lives in [[StreamBench]]). One
  * JSON line (Bench's contract), bare copy at STATE_SCALE_LATEST.json
  * (SPARK_GRAFT_STATE_SCALE_OUT overrides); SPARK_GRAFT_STATE_SCALE_SIZES
  * overrides the sweep. */
object StateScaleBench {
  def main(args: Array[String]): Unit = {
    val rawCpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val cpus = AppSession.parseCpus(rawCpus).getOrElse(
      AppSession.fail(s"SPARK_GRAFT_CPUS must be a positive integer, got '$rawCpus'"))
    val sizes = sys.env.getOrElse("SPARK_GRAFT_STATE_SCALE_SIZES",
      "1000,10000,100000").split(',').map(_.trim.toInt).toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-state-scale")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val results = sizes.flatMap { n =>
      val base = Files.createTempDirectory(s"state-scale-$n")
      val topic = base.resolve("topic").toString
      // n files x 3 chunks of 1 KiB; every 10th file complete, the rest
      // miss their last chunk and stay partial in state
      spark.range(n).flatMap { id =>
        val content = new Array[Byte](3 * 1024)
        val rnd = new java.util.Random(0xABCDL * (id + 1))
        rnd.nextBytes(content)
        val chunks = graft.core.Chunker
          .chunk(f"f$id%07d.bin", "d", content, 1024)
          .map(graft.batch.ChunkRow(_))
        if (id % 10 == 0) chunks else chunks.dropRight(1)
      }.toDF().repartition(32).write.mode("overwrite").parquet(topic)
      val nRows = spark.read.parquet(topic).count()

      val arms = Seq("fmgws_buffered", "fmgws_disk")
      val rows = arms.map { arm =>
        val registryDir = base.resolve(s"registry_$arm").toString
        val outDir = base.resolve(s"out_$arm").toString
        val ckpt = base.resolve(s"ckpt_$arm").toString
        val listener = new graft.streaming.Heartbeats.StateRegistry(
          spark, arm, registryDir)
        spark.streams.addListener(listener)
        val t0 = System.nanoTime()
        val chunks = spark.readStream
          .schema(spark.read.parquet(topic).schema)
          .parquet(topic)
          .as[graft.batch.ChunkRow]
        val q = (arm match {
          case "fmgws_buffered" =>
            graft.streaming.AssemblyStream.assemble(chunks, timeoutMs = 0)
              .writeStream
          case "fmgws_disk" =>
            graft.streaming.DiskModeAssembly.assemble(chunks, outDir, timeoutMs = 0)
              .writeStream
        }).format("noop")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        listener.drain()
        spark.streams.removeListener(listener)
        // empty/absent registry (e.g. all beats dropped) must report 0, not NPE
        val (stateRows, stateBytes) =
          if (!Files.exists(java.nio.file.Paths.get(registryDir))) (0L, 0L)
          else {
            val reg = spark.read.parquet(registryDir)
              .agg(max("num_rows_total").as("r"), max("state_bytes").as("b"))
              .first()
            if (reg.isNullAt(0)) (0L, 0L) else (reg.getLong(0), reg.getLong(1))
          }
        println(s"[state-scale] n=$n arm=$arm wall=${f1(wall)}s " +
          s"rows_s=${f1(nRows / wall)} state_rows=$stateRows state_mb=${f1(stateBytes / 1048576.0)}")
        s"""{"arm":"$arm","n_files":$n,"chunk_rows":$nRows,""" +
          s""""wall_s":${f1(wall)},"rows_s":${f1(nRows / wall)},""" +
          s""""state_rows":$stateRows,"state_bytes":$stateBytes}"""
      }
      // cleanup between sweep points so 10^5 disk-mode files don't linger
      def rm(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(q => Files.deleteIfExists(q))
      }
      rm(base)
      rows
    }

    val json = s"""{"metric":"state_scale","points":[${results.mkString(",")}]}"""
    println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_STATE_SCALE_OUT",
      "STATE_SCALE_LATEST.json")
    try Files.write(Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[state-scale] write $out: ${e.getMessage}") }
    spark.stop()
  }

  private def f1(v: Double): String = f"$v%.1f"
}
