package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.app.{ShellFreeLocalFileSystem, ShellFreeLocalFs, ShellFreeRawLocalFileSystem}

/** The shell-free local filesystem behaves as Hadoop's own on everything a
  * checkpoint relies on: the permission bits of what it creates, the `.crc`
  * sidecars and their check, and the link status of a real symlink. Each
  * test runs the same steps through the session's Hadoop configuration
  * (the adapter) and through a copy without the two `file:` settings
  * (Hadoop's `LocalFileSystem` and `LocalFs`). Filesystems come from
  * `FileSystem.newInstance`, so the JVM's filesystem cache never holds a
  * stock instance for a later spec to find.
  */
class ShellFreeLocalFsSpec extends AnyFunSuite with LocalSpark {

  private val local = URI.create("file:///")

  private def adapterConf: Configuration = spark.sessionState.newHadoopConf()
  private def stockConf: Configuration = {
    val c = new Configuration(adapterConf)
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    c
  }

  /** Runs `body` with both APIs over `conf`'s `file:` filesystem. */
  private def withApis[A](conf: Configuration)(body: (FileSystem, FileContext) => A): A = {
    val fs = FileSystem.newInstance(local, conf)
    try body(fs, FileContext.getFileContext(local, conf)) finally fs.close()
  }

  private def withTempDir[A](body: JPath => A): A = {
    val dir = Files.createTempDirectory("graft_shellfree")
    try body(dir) finally Harness.rmTree(dir)
  }

  private def hpath(p: JPath): Path = new Path(p.toString)

  test("the two configurations resolve to the adapter and to stock Hadoop") {
    withApis(adapterConf) { (fs, fc) =>
      assert(fs.isInstanceOf[ShellFreeLocalFileSystem])
      assert(fc.getDefaultFileSystem.isInstanceOf[ShellFreeLocalFs])
    }
    withApis(stockConf) { (fs, fc) =>
      assert(fs.getClass == classOf[LocalFileSystem])
      assert(fc.getDefaultFileSystem.getClass == classOf[LocalFs])
    }
  }

  test("files and dirs get stock permission bits through both APIs under the session umask") {
    /** Creates files and dirs under `dir` with default and explicit
      * permissions, renames one, and returns every entry's bits. */
    def tree(conf: Configuration, dir: JPath): Map[String, String] = withApis(conf) { (fs, fc) =>
      val f = hpath(dir.resolve("fs"))
      fs.create(new Path(f, "a/default")).close()
      fs.create(new Path(f, "b/explicit"), new FsPermission("640"), false, 4096,
        1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(f, "c/d"))
      fs.mkdirs(new Path(f, "e"), new FsPermission("751"))
      val c = hpath(dir.resolve("fc"))
      val create = EnumSet.of(CreateFlag.CREATE)
      fc.create(new Path(c, "a/default"), create, Options.CreateOpts.createParent()).close()
      fc.create(new Path(c, "b/explicit"), create, Options.CreateOpts.createParent(),
        Options.CreateOpts.perms(new FsPermission("640"))).close()
      fc.mkdir(new Path(c, "c/d"), FsPermission.getDirDefault, true)
      fc.mkdir(new Path(c, "e"), new FsPermission("751"), true)
      fc.rename(new Path(c, "a/default"), new Path(c, "a/renamed"), Options.Rename.OVERWRITE)
      Files.walk(dir).iterator().asScala.filter(_ != dir).map { p =>
        dir.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    }
    assert(adapterConf.get("fs.permissions.umask-mode") == stockConf.get("fs.permissions.umask-mode"))
    withTempDir { dir =>
      val stock = tree(stockConf, dir.resolve("stock"))
      val adapter = tree(adapterConf, dir.resolve("adapter"))
      assert(stock.keySet.exists(_.endsWith(".crc")), stock.keySet)
      assert(stock.values.toSet.size > 2, stock) // the umask and the explicit bits both show
      assert(adapter == stock)
    }
  }

  test("checkpoint files keep their .crc sidecar and a flipped byte raises ChecksumException") {
    Seq(adapterConf -> true, stockConf -> false).foreach { case (conf, adapter) =>
      withTempDir { dir =>
        val file = dir.resolve("offsets-0")
        val data = Array.tabulate[Byte](2000)(i => (i * 7).toByte)
        // the commit path: a temporary file renamed into place
        val manager = CheckpointFileManager.create(hpath(dir), conf)
        val out = manager.createAtomic(hpath(file), overwriteIfPossible = false)
        out.write(data); out.close()
        assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet ==
          Set("offsets-0", ".offsets-0.crc"))
        def readAll(in: java.io.InputStream): Array[Byte] = try in.readAllBytes() finally in.close()
        val fc = FileContext.getFileContext(local, conf)
        def read(): Array[Byte] = readAll(fc.open(hpath(file), 4096))
        // the read path of Spark's offset log, commit log and sink metadata
        def readLog(): Array[Byte] = readAll(manager.open(hpath(file)))
        assert(java.util.Arrays.equals(read(), data))
        assert(java.util.Arrays.equals(readLog(), data))
        val flipped = data.clone(); flipped(700) = (flipped(700) ^ 1).toByte
        Files.write(file, flipped)
        intercept[ChecksumException](read())
        // stock `LocalFs` serves the manager's `FileContext.open(path)` from
        // the raw filesystem (Hadoop's `FilterFs` forwards it past
        // `ChecksumFs`) and hands back the flipped bytes; the adapter checks
        if (adapter) intercept[ChecksumException](readLog())
        else assert(java.util.Arrays.equals(readLog(), flipped))
      }
    }
  }

  test("link status of a real symlink, a dangling one and a plain file matches stock") {
    /** What a caller reads from a link status, or the failure's class. */
    def summary(st: => FileStatus): String = Try(st).fold(_.getClass.getName, s =>
      s"link=${s.isSymlink} to=${if (s.isSymlink) s.getSymlink else ""} " +
        s"file=${s.isFile} dir=${s.isDirectory} len=${s.getLen}")
    withTempDir { dir =>
      val target = dir.resolve("target")
      Files.write(target, Array.fill[Byte](37)(1))
      Files.createSymbolicLink(dir.resolve("link"), target)
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("missing"))
      val paths = Seq("link", "dangling", "target").flatMap { n =>
        val p = hpath(dir.resolve(n)); Seq(p, p.makeQualified(local, new Path("/")))
      }
      def statuses(conf: Configuration): Seq[String] = withApis(conf) { (fs, fc) =>
        paths.flatMap(p => Seq(summary(fs.getFileLinkStatus(p)), summary(fc.getFileLinkStatus(p))))
      }
      val stock = statuses(stockConf)
      assert(stock.exists(_.startsWith("link=true")), stock)
      assert(statuses(adapterConf) == stock)
    }
  }

  test("a sticky-bit setPermission falls back to Hadoop's chmod; other bits go through java.nio") {
    val raw = new ShellFreeRawLocalFileSystem
    raw.initialize(local, adapterConf)
    def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    withTempDir { dir =>
      raw.setPermission(hpath(dir), new FsPermission(Integer.parseInt("1777", 8).toShort))
      assert(mode(dir) == Integer.parseInt("1777", 8), mode(dir).toOctalString)
      raw.setPermission(hpath(dir), new FsPermission("751"))
      assert(mode(dir) == Integer.parseInt("751", 8), mode(dir).toOctalString)
      val file = dir.resolve("f"); Files.write(file, Array[Byte](1))
      raw.setPermission(hpath(file), new FsPermission("604"))
      assert(mode(file) == Integer.parseInt("604", 8), mode(file).toOctalString)
    }
    raw.close()
  }
}
