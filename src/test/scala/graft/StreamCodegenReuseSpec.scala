package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark keeps generated classes in a cache keyed on the task's class
  * loader and the generated source. With artifact isolation on, every
  * streaming query runs its tasks under a class loader of its own, so an
  * identical second query missed the cache and compiled every class again.
  * The app session and the spec session turn isolation off
  * ([[graft.app.AppSession.StaticSettings]]), and the assembly state
  * encoders are built once; a second ingest, the same queries on fresh
  * directories, must then compile nothing.
  */
class StreamCodegenReuseSpec extends AnyFunSuite with LocalSpark {

  private val rnd = new scala.util.Random(29)
  private val files: Map[String, Array[Byte]] = (0 until 6).map { i =>
    val data = new Array[Byte](300 + rnd.nextInt(2500)); rnd.nextBytes(data)
    s"d${i % 2}/f$i.bin" -> data
  }.toMap

  test("a second identical ingest compiles no class") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    val root = Files.createTempDirectory("graft_codegen_reuse")
    val src = root.resolve("src")
    AppIngest.writeTree(src, files)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val c0 = compiles
      val out1 = AppIngest.run(spark, src, root.resolve("run1"))
      val c1 = compiles
      val out2 = AppIngest.run(spark, src, root.resolve("run2"))
      val (first, second) = (c1 - c0, compiles - c1)
      info(s"Janino compiles: first ingest $first, second ingest $second")
      (out1 ++ out2).foreach(AppIngest.assertTree(_, files))
      assert(second == 0, s"second ingest compiled $second classes (first: $first)")
    } finally Harness.rmTree(root)
  }
}
