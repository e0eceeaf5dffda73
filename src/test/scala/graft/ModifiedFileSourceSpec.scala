package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DirStateOffset, ModifiedFileProvider}

/** The modified-file re-emitting source: new files emit once, an overwrite
  * re-emits (the semantic Spark's built-in file source lacks), unchanged
  * files never repeat, and offsets round-trip through their JSON form. */
class ModifiedFileSourceSpec extends AnyFunSuite with LocalSpark {

  private def write(p: Path, s: String, mtimeMs: Long): Unit = {
    Files.write(p, s.getBytes)
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs))
  }

  test("new files emit once; an overwrite re-emits; unchanged files don't repeat") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_modsrc")
    Files.createDirectories(dir.resolve("sub"))
    val t0 = System.currentTimeMillis() - 60000
    write(dir.resolve("a.txt"), "a-v1", t0)
    write(dir.resolve("sub/b.txt"), "b-v1", t0)

    val q = spark.readStream
      .format("modified-files") // DataSourceRegister short name
      .option("path", dir.toString)
      .load()
      .writeStream.format("memory").queryName("modsrc").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      def rows() = spark.table("modsrc")
        .selectExpr("path", "cast(content as string) AS c")
        .as[(String, String)].collect().toSeq.sorted
      val r1 = rows()
      assert(r1.map(_._2) == Seq("a-v1", "b-v1"))

      // overwrite a.txt with a newer mtime → exactly one re-emission
      write(dir.resolve("a.txt"), "a-v2!", t0 + 5000)
      q.processAllAvailable()
      val r2 = rows()
      assert(r2.map(_._2) == Seq("a-v1", "a-v2!", "b-v1")) // b not repeated
      // steady state: nothing changed → no new rows
      q.processAllAvailable()
      assert(rows() == r2)
    } finally q.stop()
  }

  test("debounce withholds files still inside the lag window") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_modsrc_lag")
    write(dir.resolve("old.txt"), "old", System.currentTimeMillis() - 60000)
    write(dir.resolve("hot.txt"), "hot", System.currentTimeMillis() + 60000)
    val q = spark.readStream
      .format(classOf[ModifiedFileProvider].getName)
      .option("path", dir.toString)
      .option("lagMs", "30000")
      .load()
      .writeStream.format("memory").queryName("modsrc_lag").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("modsrc_lag")
        .selectExpr("cast(content as string)").as[String].collect().toSeq
      assert(got == Seq("old")) // hot.txt is not static yet
    } finally q.stop()
  }

  test("modified file re-chunks as a newer generation that supersedes on disk") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_modsrc_e2e")
    val outDir = Files.createTempDirectory("graft_modsrc_out")
    val rnd = new scala.util.Random(13)
    val v1 = new Array[Byte](1500); rnd.nextBytes(v1)
    val v2 = new Array[Byte](2100); rnd.nextBytes(v2)
    val t0 = System.currentTimeMillis() - 60000
    Files.write(srcDir.resolve("f.dat"), v1)
    Files.setLastModifiedTime(srcDir.resolve("f.dat"),
      java.nio.file.attribute.FileTime.fromMillis(t0))

    val wire = graft.streaming.Pipelines
      .uploadDirectoryStreamModified(spark, srcDir.toString, chunkSize = 512, lagMs = 0)
    val chunks = wire.select("value").as[Array[Byte]]
      .map(b => graft.batch.ChunkRow(graft.core.ChunkCodec.unpack(b)))
    val q = graft.streaming.AssemblyStream.assemble(chunks, timeoutMs = 0)
      .writeStream
      .foreach(new graft.streaming.CompletedFileWriter(outDir.toString))
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft_modsrc_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(Files.readAllBytes(outDir.resolve("f.dat")).toSeq == v1.toSeq)
      // overwrite with different size and newer mtime: re-emitted, re-chunked
      // with the newer file_mtime, and the assembler's generation policy
      // adopts it — the written file flips to v2
      Files.write(srcDir.resolve("f.dat"), v2)
      Files.setLastModifiedTime(srcDir.resolve("f.dat"),
        java.nio.file.attribute.FileTime.fromMillis(t0 + 5000))
      q.processAllAvailable()
      assert(Files.readAllBytes(outDir.resolve("f.dat")).toSeq == v2.toSeq)
    } finally q.stop()
  }

  test("offsets round-trip through JSON") {
    val off = DirStateOffset(Map("/x/a" -> (12L, 34L), "/x/b" -> (56L, 78L)))
    assert(DirStateOffset.fromJson(off.json()) == off)
    assert(DirStateOffset.fromJson(DirStateOffset(Map.empty).json()).files.isEmpty)
  }

  test("maxFilesPerTrigger caps each microbatch; all files still drain") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_modsrc_cap")
    val t0 = System.currentTimeMillis() - 60000
    (1 to 5).foreach(i => write(dir.resolve(s"f$i.txt"), s"v$i", t0))
    val q = spark.readStream
      .format("modified-files")
      .option("path", dir.toString)
      .option("maxFilesPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName("modsrc_cap").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("modsrc_cap")
        .selectExpr("cast(content as string)").as[String].collect().toSeq.sorted
      assert(got == (1 to 5).map(i => s"v$i"))
      // admission control: no batch admitted more than 2 files
      val batchSizes = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      assert(batchSizes.nonEmpty && batchSizes.forall(_ <= 2),
        s"batch sizes not capped: $batchSizes")
      assert(batchSizes.sum == 5)
    } finally q.stop()
  }

  test("byte-cap admission: cumulative size bounds the batch, oversized file still advances") {
    val stream = new graft.sources.ModifiedFileStream("/unused", 0L, 0, 100L)
    val start = DirStateOffset(Map.empty)
    val target = DirStateOffset(Map(
      "/d/a" -> (1L, 60L), "/d/b" -> (1L, 60L), "/d/c" -> (1L, 60L)))
    // 60+60 > 100 → only /d/a admits in batch 1
    val end1 = stream.admit(start, target, Int.MaxValue, 100L)
    assert(end1.files.keySet == Set("/d/a"))
    val end2 = stream.admit(end1, target, Int.MaxValue, 100L)
    assert(end2.files.keySet == Set("/d/a", "/d/b"))
    // an oversized single file must still be admitted (progress guarantee)
    val big = DirStateOffset(Map("/d/huge" -> (1L, 10_000L)))
    assert(stream.admit(start, big, Int.MaxValue, 100L).files.keySet == Set("/d/huge"))
    // maxBytesPerTrigger end-to-end: the stream drains in byte-capped batches
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_modsrc_bytes")
    val t0 = System.currentTimeMillis() - 60000
    (1 to 4).foreach(i => write(dir.resolve(s"f$i.txt"), "x" * 40, t0))
    val q = spark.readStream
      .format("modified-files")
      .option("path", dir.toString)
      .option("maxBytesPerTrigger", "50")
      .load()
      .writeStream.format("memory").queryName("modsrc_bytes").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("modsrc_bytes").count() == 4)
      val batchSizes = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      assert(batchSizes.forall(_ == 1), s"each 40-byte file should batch alone: $batchSizes")
    } finally q.stop()
  }

  test("admission cap defers modified files without losing their old state") {
    // direct offset-level check: 3 changed files, cap 2 → the deferred one
    // keeps its previous fingerprint (still pending), deletions apply now.
    // Order is OLDEST MTIME first (anti-starvation FIFO), path as tiebreak.
    val stream = new graft.sources.ModifiedFileStream("/unused", 0L, 2)
    val before = DirStateOffset(Map(
      "/d/a" -> (1L, 1L), "/d/b" -> (1L, 1L), "/d/gone" -> (1L, 1L)))
    val target = DirStateOffset(Map(
      "/d/a" -> (2L, 2L), "/d/b" -> (2L, 2L), "/d/new" -> (1L, 1L)))
    val end = stream.admit(before, target, 2)
    // mtime order: /d/new (mt 1) then /d/a (mt 2, path tiebreak) admitted;
    // /d/b deferred with its OLD fingerprint; gone deleted
    assert(end.files == Map(
      "/d/new" -> (1L, 1L), "/d/a" -> (2L, 2L), "/d/b" -> (1L, 1L)))
    val end2 = stream.admit(end, target, 2)
    assert(end2.files == target.files) // second batch drains the deferred file
    // anti-starvation: a file churning to ever-newer mtimes cannot push an
    // older one-shot change out of the batch
    val churnTarget = DirStateOffset(Map(
      "/d/a" -> (100L, 3L), "/d/z" -> (5L, 1L)))
    val churnEnd = stream.admit(DirStateOffset(Map("/d/a" -> (1L, 1L))),
      churnTarget, 1)
    assert(churnEnd.files.get("/d/z").contains((5L, 1L)),
      "oldest modification must admit first")
  }

  test("a file deleted between scan and read yields zero rows, not a poisoned batch") {
    // ADVICE r2 (medium): the end offset lands in the offset log before the
    // batch executes; a reader that throws on the vanished file would be
    // replayed against it forever. The reader must tolerate the miss.
    val stream = new graft.sources.ModifiedFileStream("/nonexistent_root", 0L)
    val start = DirStateOffset(Map.empty)
    val end = DirStateOffset(Map("/nonexistent_root/gone.bin" -> (1000L, 4L)))
    val parts = stream.planInputPartitions(start, end)
    assert(parts.length == 1)
    val reader = stream.createReaderFactory().createReader(parts(0))
    assert(!reader.next(), "vanished file must emit zero rows")
    reader.close()
  }

  test("a file: URI in the path option is accepted like the built-in sources") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_modsrc_uri")
    write(dir.resolve("u.txt"), "via-uri", System.currentTimeMillis() - 60000)
    val q = spark.readStream
      .format("modified-files")
      .option("path", dir.toUri.toString) // file:///...
      .load()
      .writeStream.format("memory").queryName("modsrc_uri").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("modsrc_uri")
        .selectExpr("cast(content as string)").as[String].collect().toSeq
      assert(got == Seq("via-uri"))
    } finally q.stop()
  }
}
