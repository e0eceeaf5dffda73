package graft

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.hadoop.util.Shell
import org.scalatest.funsuite.AnyFunSuite

import graft.app.{ShellFreeLocalFileSystem, ShellFreeLocalFs}

/** Without libhadoop, Hadoop's local filesystem starts a `chmod` or
  * `readlink` subprocess for each step of writing a checkpoint file, and a
  * streaming query writes several per micro-batch. The spec session, like
  * the app session, runs the `file:` scheme on the shell-free adapter, so an
  * ingest (upload, buffered consume, disk consume) must start no process
  * from Hadoop's `Shell`. A JFR recording of `jdk.ProcessStart` with stack
  * traces sees every process the JVM starts and who started it.
  */
class NoHadoopSubprocessSpec extends AnyFunSuite with LocalSpark {

  /** `body`'s result and the commands of the processes that Hadoop's
    * `Shell` (or a nested class of it) started while it ran. `Shell`
    * probes for `setsid` once per JVM when its class initialises, so that
    * happens before the recording starts. */
  private def shellCommands[A](body: => A): (A, Seq[String]) = {
    Class.forName(classOf[Shell].getName)
    val rec = new Recording()
    val dump = Files.createTempFile("graft_process_starts", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val result = try body finally rec.stop()
      rec.dump(dump)
      val commands = RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
            _.getMethod.getType.getName.startsWith(classOf[Shell].getName))))
        .map(_.getString("command"))
      (result, commands)
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("the recording attributes a process that Hadoop's Shell starts") {
    val (_, commands) = shellCommands(Shell.execCommand("true"))
    assert(commands.contains("true"), commands)
  }

  test("an ingest starts no Hadoop shell subprocess") {
    val rnd = new scala.util.Random(31)
    val files: Map[String, Array[Byte]] = (0 until 6).map { i =>
      val data = new Array[Byte](200 + rnd.nextInt(3000)); rnd.nextBytes(data)
      s"d${i % 2}/f$i.bin" -> data
    }.toMap
    val root = Files.createTempDirectory("graft_no_subprocess")
    try {
      AppIngest.writeTree(root.resolve("src"), files)
      spark // the session starts outside the recording
      val (outs, commands) =
        shellCommands(AppIngest.run(spark, root.resolve("src"), root.resolve("run")))
      outs.foreach(AppIngest.assertTree(_, files))
      val byProgram = commands.groupBy(_.takeWhile(_ != ' ')).map { case (k, v) => s"$k ${v.size}" }
      val started = commands.size
      assert(started == 0, s"Hadoop shell subprocesses: ${byProgram.mkString(", ")}; " +
        s"e.g. ${commands.take(2).mkString("; ")}")
    } finally Harness.rmTree(root)
  }

  test("the session's file: scheme resolves to the adapter on both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    val local = URI.create("file:///")
    assert(FileSystem.get(local, conf).isInstanceOf[ShellFreeLocalFileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem
      .isInstanceOf[ShellFreeLocalFs])
  }
}
