package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.SafePaths

/** Path-traversal guard (ADVICE r1, medium): wire-derived rel_filepath must
  * never write outside the sink root, in any of the file/object/REST sinks. */
class SafePathsSpec extends AnyFunSuite {

  test("safeKey accepts normal relative paths and normalizes redundant segments") {
    assert(SafePaths.safeKey("a/b/c.bin") == "a/b/c.bin")
    assert(SafePaths.safeKey("./a//b/./c") == "a/b/c")
    assert(SafePaths.safeKey("file with space.txt") == "file with space.txt")
  }

  test("safeKey rejects absolute paths, .. segments, and empty results") {
    for (bad <- Seq("/etc/passwd", "../x", "a/../../b", "..", ".", "", "a/b/..",
        "../../etc/cron.d/evil"))
      assertThrows[SafePaths.UnsafeRelPath](SafePaths.safeKey(bad))
    assert(!SafePaths.isSafe("../x") && SafePaths.isSafe("x/y"))
  }

  test("resolveUnder stays inside the root") {
    val root = Files.createTempDirectory("safepaths").toString
    val p = SafePaths.resolveUnder(root, "sub/f.bin")
    assert(p.startsWith(Paths.get(root)) && p.toString.endsWith("sub/f.bin"))
    assertThrows[SafePaths.UnsafeRelPath](SafePaths.resolveUnder(root, "../f.bin"))
  }

  test("CompletedFileWriter skips traversal paths without writing") {
    val root = Files.createTempDirectory("cfw").toString
    val sibling = Paths.get(root).getParent.resolve("cfw_escape.bin")
    Files.deleteIfExists(sibling)
    val w = new CompletedFileWriter(root)
    w.open(0L, 0L)
    val payload = "x".getBytes
    def af(rel: String, name: String) = graft.batch.AssembledFile(
      rel, name, graft.core.Assembly.Code.Complete, 1, payload.length.toLong,
      graft.core.ChunkCodec.sha512(payload), Some(1.0), payload)
    w.process(af("../cfw_escape.bin", "cfw_escape.bin"))
    w.process(af("ok/f.bin", "f.bin"))
    w.close(null)
    assert(!Files.exists(sibling), "traversal write escaped the root")
    assert(Files.exists(Paths.get(root, "ok/f.bin")))
  }

  test("resolveUnderMkdirs rejects a symlink escape under the root") {
    val root = Files.createTempDirectory("safepaths_sym")
    val outside = Files.createTempDirectory("safepaths_out")
    // lexically fine ("link/f.bin"), but `link` redirects outside the root
    Files.createSymbolicLink(root.resolve("link"), outside)
    assertThrows[SafePaths.UnsafeRelPath](
      SafePaths.resolveUnderMkdirs(root.toString, "link/f.bin"))
    // a legitimate nested path is unaffected
    val ok = SafePaths.resolveUnderMkdirs(root.toString, "sub/f.bin")
    assert(ok.startsWith(root))
  }

  test("rejected-path accumulator counts dead-lettered rows") {
    val spark = graft.LocalSpark.session
    val acc = spark.sparkContext.longAccumulator("unsafe_paths")
    val root = Files.createTempDirectory("cfw_acc").toString
    val w = new CompletedFileWriter(root, Some(acc))
    w.open(0L, 0L)
    val payload = "x".getBytes
    def af(rel: String, name: String) = graft.batch.AssembledFile(
      rel, name, graft.core.Assembly.Code.Complete, 1, payload.length.toLong,
      graft.core.ChunkCodec.sha512(payload), Some(1.0), payload)
    w.process(af("../esc.bin", "esc.bin"))
    w.process(af("ok.bin", "ok.bin"))
    w.close(null)
    assert(acc.value == 1L)
  }

  test("RestSink.bodyHasSha matches the sha256 field value, not substrings") {
    val sha = "ab12" * 16
    assert(RestSink.bodyHasSha(s"""{"sha256":"$sha","size":3}""", sha))
    assert(RestSink.bodyHasSha(s"""{ "sha256" : "$sha" }""", sha))
    // digest echoed inside an error message or a listing must NOT skip
    assert(!RestSink.bodyHasSha(s"""{"error":"no item $sha here"}""", sha))
    assert(!RestSink.bodyHasSha(s"""{"sha256":"${"ff" * 32}","note":"$sha"}""", sha))
  }
}
