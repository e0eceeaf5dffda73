package graft.sources

import java.io.IOException

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.functions.Bzip2

/** Range access to (multistream) `.bz2` files that never materializes a
  * whole file in memory — the layer BELOW the 2 GB binary-column limit
  * for dumps the `binaryFile` source cannot even load (a real enwiki
  * `pages-articles-multistream.xml.bz2` is ~20 GB compressed). Two
  * halves, both executor-side over Hadoop FS:
  *
  *  - [[scanExtents]] STREAMS a file through a fixed 64 KiB buffer
  *    (9-byte carry across chunk boundaries) looking for the
  *    byte-aligned stream signature `BZh[1-9]` + block magic — O(size)
  *    IO, O(1) memory, no allocation proportional to the file;
  *  - [[readRange]] seeks to one extent and reads exactly its bytes.
  *
  * Extent semantics mirror [[graft.functions.Bzip2Extents]]; the
  * quarantine rows mirror the column path so the two readers cannot
  * drift (WikidumpRangedSpec pins parity file-for-file). A single
  * extent larger than `maxExtentBytes` (a MONOLITHIC single-stream
  * dump — not splittable by construction) is capped: its row emits a
  * null payload and quarantines downstream rather than allocating the
  * monolith; the published multistream form never trips this. */
object RangedBz2 {

  /** Compressed-extent cap. One real multistream page-stream is ~100
    * pages ≈ 100 KiB–1 MiB compressed; 1 GiB is three orders of
    * margin while still refusing to allocate a 20 GB monolith. */
  val DefaultMaxExtentBytes: Long = 1L << 30

  /** (stream, off, len) extents of `path`; stream = -1 single row when
    * the file does not start with a stream signature or cannot be
    * read at all (route, don't drop). */
  def scanExtents(conf: Configuration, path: String): Seq[(Int, Long, Long)] = {
    val sig = new Array[Byte](10)
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val size = fs.getFileStatus(p).getLen
      val in = fs.open(p)
      try {
        val offs = ArrayBuffer[Long]()
        val buf = new Array[Byte](64 * 1024)
        // carry the last 9 bytes of the previous chunk so a signature
        // straddling a buffer boundary is still seen
        val window = new Array[Byte](buf.length + 9)
        var carry = 0
        var base = 0L // absolute offset of window(0)
        var done = false
        while (!done) {
          val n = in.read(buf, 0, buf.length)
          if (n <= 0) done = true
          else {
            System.arraycopy(buf, 0, window, carry, n)
            val avail = carry + n
            var i = 0
            while (i + 10 <= avail) {
              if (window(i) == 'B' && Bzip2.isStreamStart(window, i)) {
                offs += base + i
                i += 10
              } else i += 1
            }
            // keep the tail that could open a signature next chunk
            val keep = math.min(9, avail)
            System.arraycopy(window, avail - keep, window, 0, keep)
            base += avail - keep
            carry = keep
          }
        }
        if (offs.isEmpty || offs.head != 0L) Seq((-1, 0L, -1L))
        else offs.indices.map { i =>
          val end = if (i + 1 < offs.length) offs(i + 1) else size
          (i + 1, offs(i), end - offs(i))
        }.toSeq
      } finally in.close()
    } catch {
      case _: IOException => Seq((-1, 0L, -1L))
    }
  }

  /** The extent's bytes, or null when the extent is a quarantine
    * marker (len < 0), exceeds the cap, or the read fails — a null
    * payload decodes to a null xml and the shared extraction tail
    * emits the extent's dead-letter row. */
  def readRange(conf: Configuration, path: String, off: Long, len: Long,
      maxExtentBytes: Long = DefaultMaxExtentBytes): Array[Byte] = {
    if (len < 0 || len > maxExtentBytes) return null
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val in = fs.open(p)
      try {
        in.seek(off)
        val out = new Array[Byte](len.toInt)
        var got = 0
        while (got < out.length) {
          val n = in.read(out, got, out.length - got)
          if (n <= 0) throw new IOException(s"short read at $off+$got")
          got += n
        }
        out
      } finally in.close()
    } catch {
      case _: IOException => null
    }
  }
}
