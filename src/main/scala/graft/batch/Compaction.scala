package graft.batch

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.streaming.IdempotentParquetSink

/** Small-files compaction — the operational pass every streaming parquet
  * sink eventually needs: micro-batches (and the reference's per-file
  * registry shards, dataclass_table.py:64-66 / producer_file_registry
  * .py:54,71) leave directories of tiny files whose per-file open/footer
  * cost dominates scans long before data volume does. Compaction rewrites
  * a directory into ~`targetBytes`-sized files: read, repartition to
  * ceil(total/target), write beside the original, then swap.
  *
  * The swap is delete-then-rename on the directory — NOT atomic (readers
  * racing the swap can see a missing dir; table formats exist to fix
  * exactly this). Safe for the pipeline pattern it serves: compaction runs
  * between streaming jobs, or on topic dirs whose readers tolerate restart.
  * Refuses FileStreamSink dirs (`_spark_metadata`): their committed-file
  * log would still reference the deleted originals and every streaming
  * consumer would silently read nothing.
  *
  * Scale posture: one distributed read + one round-robin repartition
  * exchange + one distributed write — no driver data; file count drops
  * from O(batches) to O(bytes/target), which is what restores scan-side
  * split planning at 100 TB.
  */
object Compaction {

  /** Returns (filesBefore, filesAfter). Refuses directories it cannot
    * compact FAITHFULLY: FileStreamSink dirs (commit log would orphan),
    * partitioned layouts (subdirectories — rewriting would flatten the
    * partition columns into data files), and dirs holding non-parquet
    * sidecar files (a manifest the swap would silently destroy). */
  def compactDir(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(path, "_spark_metadata")),
      s"refusing to compact '$dir': FileStreamSink metadata log would still " +
        "reference the replaced files; compact a copy or a non-sink dir")
    val entries = fs.listStatus(path)
    require(!entries.exists(_.isDirectory),
      s"refusing to compact '$dir': partitioned layout (subdirectories) — " +
        "compact each partition dir, or rewrite via writeDatePartitioned")
    val sidecars = entries.filter(f => f.isFile &&
      !f.getPath.getName.endsWith(".parquet") &&
      !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    require(sidecars.isEmpty,
      s"refusing to compact '$dir': non-parquet sidecar files would be " +
        s"destroyed by the swap: ${sidecars.map(_.getPath.getName).mkString(", ")}")
    val parquetFiles = entries
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val before = parquetFiles.length
    if (before == 0) return (0, 0)
    val totalBytes = parquetFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = IdempotentParquetSink.scratchBeside(path)
    fs.delete(tmp, true)
    spark.read.parquet(dir)
      .repartition(nOut)
      .write.parquet(tmp.toString)
    IdempotentParquetSink.swap(fs, tmp, path)
    val after = fs.listStatus(path)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (before, after)
  }

  /** Compaction for [[IdempotentParquetSink]] layouts (`batch_id=N`
    * partition directory per micro-batch): [[IdempotentParquetSink.fold]]
    * with the rows repartitioned to ~`targetBytes` files. This is the
    * registry-consolidation pass the reference runs on shutdown
    * (producer_file_registry.py:80-138 rewrites its per-file CSV shards)
    * re-expressed for the partitioned-parquet registry. Safe ONLY between
    * runs of the owning streaming query. Underscore dirs (`_quarantine`,
    * checkpoints) are untouched; readers keep using
    * `spark.read.parquet(dir)` unchanged. Returns (filesBefore,
    * filesAfter) over data files. */
  def compactBatchPartitioned(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(path, "_spark_metadata")),
      s"refusing to compact '$dir': FileStreamSink dir, not an " +
        "IdempotentParquetSink layout — its commit log would orphan")
    def dataFiles() = IdempotentParquetSink.batches(spark, dir).flatMap(p =>
      fs.listStatus(p).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
    val before = dataFiles()
    if (before.isEmpty) return (0, 0)
    val nOut = math.max(1, math.ceil(before.map(_.getLen).sum.toDouble / targetBytes).toInt)
    IdempotentParquetSink.fold(spark, dir)(_.repartition(nOut))
    (before.length, dataFiles().length)
  }
}
