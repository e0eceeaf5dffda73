package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.ForeachWriter
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

/** Exactly-once-over-at-least-once parquet sink for `foreachBatch`.
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
  */
object IdempotentParquetSink {
  /** Use as `.writeStream.foreachBatch(IdempotentParquetSink.writeBatch(dir) _)`. */
  def writeBatch(dir: String)(batch: org.apache.spark.sql.DataFrame,
      batchId: Long): Unit =
    batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dir)
}
