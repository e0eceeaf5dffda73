package graft.core

import java.nio.file.{Files, Path, Paths}

/** Path-traversal guard for every sink that turns a wire-derived
  * `rel_filepath` (subdir_str/filename from untrusted chunk messages) into a
  * filesystem path or object key. A chunk carrying `subdir_str = "../../etc"`
  * must not become a write outside the sink's output root.
  *
  * The reference trusts its own producers here (data_file_chunk.py:72-99
  * re-roots without validation); on a multi-tenant cluster consuming from a
  * shared topic that trust is wrong, so validation is a deliberate semantic
  * addition. All file sinks ([[graft.streaming.DiskModeAssembly]],
  * [[graft.streaming.CompletedFileWriter]]) and key-building sinks
  * ([[graft.streaming.RestSink]], [[graft.streaming.ObjectStoreSink]]) go
  * through this one helper.
  */
object SafePaths {

  final class UnsafeRelPath(rel: String)
    extends IllegalArgumentException(s"unsafe relative path rejected: '$rel'")

  /** Normalized, validated relative key: no absolute paths, no `..` or `.`
    * segments, no empty result. Returns the cleaned `a/b/c` form for use in
    * object keys and REST paths. Throws [[UnsafeRelPath]] otherwise. */
  def safeKey(rel: String): String = {
    if (rel == null || rel.isEmpty || rel.startsWith("/"))
      throw new UnsafeRelPath(rel)
    val segs = rel.split('/').filter(s => s.nonEmpty && s != ".")
    if (segs.isEmpty || segs.contains("..")) throw new UnsafeRelPath(rel)
    segs.mkString("/")
  }

  /** Non-throwing form of [[safeKey]] for callers that route rejects to a
    * dead-letter row instead of failing the task (poison-pill safety: one
    * malicious message must not kill a streaming query on every restart). */
  def isSafe(rel: String): Boolean =
    try { safeKey(rel); true } catch { case _: UnsafeRelPath => false }

  /** Resolve `rel` strictly under `rootDir`: the normalized target must stay
    * inside the root (and not be the root itself). Throws [[UnsafeRelPath]]
    * on any escape. Does NOT create directories — callers do that after
    * validation. */
  def resolveUnder(rootDir: String, rel: String): Path = {
    val root = Paths.get(rootDir).toAbsolutePath.normalize
    val target = root.resolve(safeKey(rel)).normalize
    if (!target.startsWith(root) || target == root) throw new UnsafeRelPath(rel)
    target
  }

  /** resolveUnder + mkdir -p of the parent — the common sink preamble.
    *
    * [[resolveUnder]] alone is lexical (normalize + startsWith), so a
    * pre-existing symlink under the root could still redirect the write
    * outside it. Defense in depth, BEFORE any directory is created:
    * every already-existing component on the path — including the LEAF,
    * which a later `Files.write` would happily follow — must not be a
    * symlink whose real path escapes the root. Checking before mkdirs also
    * stops `createDirectories` itself from materializing directories on the
    * far side of a symlinked ancestor. */
  def resolveUnderMkdirs(rootDir: String, rel: String): Path = {
    val p = resolveUnder(rootDir, rel)
    val root = Paths.get(rootDir).toAbsolutePath.normalize
    if (Files.exists(root)) {
      val realRoot = root.toRealPath()
      var cur = root
      val it = root.relativize(p).iterator()
      while (it.hasNext) {
        cur = cur.resolve(it.next())
        if (Files.isSymbolicLink(cur)) {
          // a dangling link (toRealPath throws) is just as unsafe — the
          // attacker controls where it will point; fail closed either way
          val real = try cur.toRealPath()
            catch { case _: java.io.IOException => null }
          if (real == null || !real.startsWith(realRoot))
            throw new UnsafeRelPath(rel)
        }
      }
    }
    Files.createDirectories(p.getParent)
    p
  }
}
