package graft.streaming

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.security.MessageDigest

import org.apache.spark.sql.Dataset

import graft.batch.ChunkRow
import graft.core.Assembly

/** Disk-mode reassembly — the large-file path (SURVEY §7.3 #2, mirroring the
  * reference's `mode="disk"`, data_file_stream_handler.py:57-74): chunk
  * payloads go straight to positioned writes on the target file; the state
  * store keeps only `(generation, offsets)` — a few hundred bytes per file
  * regardless of file size — and completion emits a verified *manifest* row,
  * not the bytes. A 50 GB file costs 50 GB of sequential-ish I/O and ~1 KB
  * of state, vs. 50 GB of state in the buffered assembler.
  *
  * Partitioning by `rel_filepath` keeps one writer per file (no locks);
  * positioned re-writes of identical verified bytes make microbatch replay
  * idempotent. `rootDir` must be storage every executor attempt of the same
  * partition can reach (shared FS on a cluster; any local dir on local[N]).
  */
object DiskModeAssembly {

  /** Tiny per-file state: generation identity + written offsets.
    * `completed=true` is the tombstone — offsets empty, dups of this
    * generation drop rather than deleting the finished file. */
  final case class DiskState(
      fileHash: Array[Byte],
      nTotal: Int,
      mtime: Option[Double],
      offsets: Set[Long],
      completed: Boolean)

  /** Completion manifest (the output row — no payload). */
  final case class FileManifest(
      rel_filepath: String,
      path: String,
      code: Int,
      n_chunks: Int,
      size: Long,
      hash_ok: Boolean)

  // Wire-derived rel paths are untrusted — a subdir of "../../etc" must not
  // become a write outside rootDir (SafePaths rejects absolute and `..`).
  private def target(rootDir: String, rel: String): Path =
    graft.core.SafePaths.resolveUnderMkdirs(rootDir, rel)

  /** Corrupt/timed-out partials must not sit at the destination path where
    * a consumer would read them as finished files — move them aside. */
  private def quarantine(rootDir: String, rel: String, path: Path): Unit =
    if (Files.exists(path)) {
      val q = graft.core.SafePaths.resolveUnderMkdirs(
        Paths.get(rootDir, "_quarantine_files").toString, rel)
      Files.move(path, q, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

  private def sha512File(p: Path): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-512")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest()
  }

  /** Eviction of a disk-mode key: a verified tombstone expires silently;
    * an unfinished partial moves its bytes to `_quarantine_files/` and
    * surfaces an InProgress manifest. */
  private def expire(rootDir: String, key: String,
      s: DiskState): Option[FileManifest] =
    if (s.completed) None // tombstone expiry; the file is verified
    else {
      val p = target(rootDir, key)
      quarantine(rootDir, key, p)
      Some(FileManifest(key, p.toString,
        Assembly.Code.InProgress, s.offsets.size, -1L, hash_ok = false))
    }

  /** Pure-policy disk fold of one microbatch's rows for a key: positioned
    * writes, generation decisions, sha512 verification on completion. A
    * verified file leaves a tombstone; a mismatched one is quarantined and
    * its state dropped so replay can reassemble it. */
  private def foldDisk(rootDir: String, key: String,
      prior: Option[DiskState], rows: Iterator[ChunkRow])
      : (Seq[FileManifest], Option[DiskState]) = {
    if (!graft.core.SafePaths.isSafe(key)) {
      // dead-letter row, no filesystem touch; throwing here would make the
      // malicious message a poison pill on every checkpoint restart
      return (Seq(FileManifest(key, "", Assembly.Code.UnsafePath,
        0, -1L, hash_ok = false)), None)
    }
    {
      var cur: Option[DiskState] = prior
      val out = Seq.newBuilder[FileManifest]
      val path = target(rootDir, key)
      // One channel per group invocation, not per chunk — a 300 MB file is
      // ~600 chunks; open/close per chunk costs more than the writes.
      var channel: FileChannel = null
      def ch(): FileChannel = {
        if (channel == null)
          channel = FileChannel.open(path,
            StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        channel
      }
      def closeCh(): Unit = if (channel != null) { channel.close(); channel = null }
      def write(off: Long, data: Array[Byte]): Unit =
        ch().write(ByteBuffer.wrap(data), off)
      def adopt(c: graft.core.FileChunk): DiskState = {
        closeCh()
        Files.deleteIfExists(path) // fresh generation, drop leftovers
        write(c.chunkOffsetWrite, c.data)
        DiskState(c.fileHash, c.nTotalChunks, c.fileMtime, Set(c.chunkOffsetWrite),
          completed = false)
      }
      try rows.foreach { r =>
        val c = r.toChunk
        val next = cur match {
          case None => Some(adopt(c))
          case Some(s) => Assembly.decide(s.fileHash, s.nTotal, s.mtime, c) match {
            case Assembly.SameGeneration =>
              if (s.completed || s.offsets.contains(c.chunkOffsetWrite)) Some(s)
              else {
                write(c.chunkOffsetWrite, c.data)
                Some(s.copy(offsets = s.offsets + c.chunkOffsetWrite))
              }
            case Assembly.AdoptNew => Some(adopt(c))
            case Assembly.DropStale => Some(s)
          }
        }
        cur = next.flatMap { s =>
          if (!s.completed && s.offsets.size == s.nTotal) {
            closeCh() // flush before the verification read
            val ok = java.util.Arrays.equals(sha512File(path), s.fileHash)
            val size = Files.size(path)
            out += FileManifest(key, path.toString,
              if (ok) Assembly.Code.Complete else Assembly.Code.HashMismatch,
              s.nTotal, size, ok)
            // success -> tombstone (late dups must not clobber the file);
            // mismatch -> quarantine the bytes and drop state, replay
            // reassembles (reference semantics; destination stays clean)
            if (ok) Some(s.copy(offsets = Set.empty, completed = true))
            else { quarantine(rootDir, key, path); None }
          } else Some(s)
        }
      } finally closeCh()
      (out.result(), cur)
    }
  }

  def assemble(
      chunks: Dataset[ChunkRow],
      rootDir: String,
      timeoutMs: Long = AssemblyStream.DefaultTimeoutMs): Dataset[FileManifest] = {
    import chunks.sparkSession.implicits._
    AssemblyStream.assembleWith[DiskState, FileManifest](chunks, timeoutMs)(
      foldDisk(rootDir, _, _, _), expire(rootDir, _, _))
  }
}
