package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, ForeachWriter, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.LongAccumulator

import graft.batch.AssembledFile

/** Executor-side sinks (K2 family).
  *
  * [[CompletedFileWriter]] writes whole verified files (the memory-mode path,
  * data_file_stream_handler.py:57-74): idempotent under replay because the
  * content is hash-verified upstream, so a rewrite is byte-identical.
  *
  * The disk-mode path (download_data_file.py:355-372) is
  * [[DiskModeAssembly]], which writes each chunk at its offset and verifies
  * the file's hash before it reports it.
  *
  * The writer takes an optional `rejected` [[LongAccumulator]] (register one
  * via `spark.sparkContext.longAccumulator("unsafe_paths")`) so path-rejected
  * rows are a queryable driver-side signal, matching the manifest row the
  * DiskModeAssembly path emits — not just a stderr line lost in executor logs.
  */
final class CompletedFileWriter(rootDir: String,
    rejected: Option[LongAccumulator] = None) extends ForeachWriter[AssembledFile] {
  override def open(partitionId: Long, epochId: Long): Boolean = true
  override def process(f: AssembledFile): Unit = {
    if (f.code == graft.core.Assembly.Code.Complete && f.data != null) {
      // untrusted wire path: validate before any write (no `..`/absolute);
      // skip rather than throw so one malicious row can't poison the stream
      if (graft.core.SafePaths.isSafe(f.rel_filepath)) {
        val target = graft.core.SafePaths.resolveUnderMkdirs(rootDir, f.rel_filepath)
        Files.write(target, f.data)
      } else {
        rejected.foreach(_.add(1L))
        System.err.println(
          s"[CompletedFileWriter] unsafe rel_filepath skipped: '${f.rel_filepath}'")
      }
    }
  }
  override def close(errorOrNull: Throwable): Unit = ()
}

/** Exactly-once-over-at-least-once parquet sink for `foreachBatch`, and
  * the one owner of the batch-segmented table layout it writes.
  *
  * Structured Streaming's contract is at-least-once on the sink side: a
  * failure between the sink write and the checkpoint commit replays the
  * whole micro-batch with the SAME `batchId`. Plain `append` would
  * duplicate every replayed row; this sink makes the write idempotent by
  * keying the output on the batch: each micro-batch lands in its own
  * `batch_id=N` partition with DYNAMIC partition overwrite, so a replay
  * rewrites exactly its own partition and nothing else. Readers see
  * `dir` as ordinary partitioned parquet (the `batch_id` column prunes).
  *
  * This is the standard Spark recipe for transactional file sinks without
  * a table format — at 100 TB each batch's write is a normal distributed
  * parquet job (no coalesce, no driver data), and the overwrite unit is
  * one partition directory, never the table.
  * (Reference analog: at-least-once consumer + duplicate-tolerant
  * reassembly, controlled_message_processor.py:89-161 — here the
  * duplicate tolerance moves into the sink itself.)
  *
  * [[fold]] is the layout's consolidation pass (the reference's shutdown
  * registry merge, producer_file_registry.py:80-138): every batch
  * partition folds into ONE `batch_id=-1` partition. The engine never
  * emits batchId -1, and a resumed query continues at fresh,
  * strictly-increasing ids, so later overwrites never touch the folded
  * partition. Safe only between runs of the owning streaming query.
  */
object IdempotentParquetSink {
  private val Folded = -1L

  /** Use as `.writeStream.foreachBatch(IdempotentParquetSink.writeBatch(dir) _)`.
    * `subPartitions` name data columns partitioned below `batch_id`. */
  def writeBatch(dir: String, subPartitions: String*)(batch: DataFrame,
      batchId: Long): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: subPartitions: _*)
      .parquet(dir)

  /** Land every micro-batch of `stream` with `land` under `AvailableNow`,
    * checkpointed at `checkpoint`: the maintain loop of a segmented index. */
  def maintain(stream: DataFrame, checkpoint: String)(
      land: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch(land)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The `batch_id=N` partition directories of `dir`; none when `dir` does
    * not exist yet (nothing has landed). */
  def batches(spark: SparkSession, dir: String): Seq[Path] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Nil
    else fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath)
  }

  /** Read `dir` by its explicit batch partitions, with `dir` as basePath so
    * the partition columns survive. Needed for underscore directories such
    * as an index's `_stats`: handing Spark the hidden directory itself
    * trips its "all paths were ignored" warning on every read, while
    * explicit non-hidden children read silently. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val parts = batches(spark, dir)
    require(parts.nonEmpty, s"no batch segments under '$dir': nothing has landed there")
    spark.read.option("basePath", dir).parquet(parts.map(_.toString): _*)
  }

  /** Fold every batch partition of `dir` into one `batch_id=-1` partition:
    * write `rewrite(rows)` to `_compact_tmp` (underscore: invisible to
    * readers racing the fold), then [[swap]] it in for the batch
    * partitions. `rewrite` sees the rows without `batch_id` and must keep
    * the `subPartitions` columns. Returns (batchPartitionsBefore,
    * batchPartitionsAfter); a directory with no batch partitions folds to
    * (0, 0). */
  def fold(spark: SparkSession, dir: String, subPartitions: String*)(
      rewrite: DataFrame => DataFrame): (Int, Int) = {
    val parts = batches(spark, dir)
    if (parts.isEmpty) return (0, 0)
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path, "_compact_tmp")
    fs.delete(tmp, true) // a stale copy from a crashed fold
    rewrite(read(spark, dir).drop("batch_id"))
      .withColumn("batch_id", lit(Folded))
      .write.partitionBy("batch_id" +: subPartitions: _*).parquet(tmp.toString)
    val folded = s"batch_id=$Folded"
    swap(fs, new Path(tmp, folded), new Path(path, folded), parts)
    fs.delete(tmp, true)
    (parts.length, batches(spark, dir).length)
  }

  /** Where [[graft.batch.Compaction.compactDir]] builds a flat directory's
    * replacement: beside it, since the swap deletes the directory whole. */
  def scratchBeside(dir: Path): Path =
    new Path(dir.getParent, dir.getName + "._compact_tmp")

  /** The one checked swap: delete each of `replaced` and an existing `to`,
    * then rename `from` to `to`. NOT atomic — a reader racing it can see
    * neither copy — which is why every caller runs between the runs of
    * whatever reads the directory, or publishes through a later commit
    * point. Every FS call is checked, so the data always survives
    * somewhere the error names instead of leaving a silent empty table. */
  def swap(fs: FileSystem, from: Path, to: Path, replaced: Seq[Path] = Nil): Unit = {
    def delete(p: Path): Unit =
      if (!fs.delete(p, true))
        throw new java.io.IOException(
          s"failed to delete '$p'; the replacement is intact at '$from'")
    replaced.foreach(delete)
    if (fs.exists(to)) delete(to)
    if (!fs.rename(from, to))
      throw new java.io.IOException(
        s"rename '$from' -> '$to' failed after what it replaces was deleted; " +
          s"the data survives at '$from', restore it manually")
  }
}
