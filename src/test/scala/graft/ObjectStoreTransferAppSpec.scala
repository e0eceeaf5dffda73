package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.app.ObjectStoreTransferApp

/** [[ObjectStoreTransferApp]] (the reference's `S3TransferStreamProcessor`)
  * driven end to end on a `file://` object store: every completed file
  * becomes an object with the source bytes and one `ok` registry row, and a
  * batch replayed after a lost commit rewrites its registry rows instead of
  * adding them again. */
class ObjectStoreTransferAppSpec extends AnyFunSuite with LocalSpark {

  private val files: Map[String, Array[Byte]] = {
    val rnd = new scala.util.Random(53)
    (0 until 5).map { i =>
      val c = new Array[Byte](600 + rnd.nextInt(1500)); rnd.nextBytes(c)
      s"d${i % 2}/f$i.bin" -> c
    }.toMap
  }

  /** Topic, object store and registry under a new directory. */
  private def layout(name: String): (Path, String, String) = {
    val base = Files.createTempDirectory(name)
    val topicDir = base.resolve("topic").toString
    AppIngest.writeTopic(spark, topicDir, files)
    (base, topicDir, base.resolve("registry").toString)
  }

  test("ObjectStoreTransferApp: topic -> assemble -> verified objects + registry") {
    import spark.implicits._
    val (base, topicDir, registryDir) = layout("objstore_app")
    val store = base.resolve("store")
    ObjectStoreTransferApp.run(spark, topicDir, store.toUri.toString, "t1", registryDir)
    files.foreach { case (rel, c) =>
      assert(Files.readAllBytes(store.resolve("t1").resolve(rel)).toSeq == c.toSeq,
        s"$rel differs in the object store")
    }
    val reg = spark.read.parquet(registryDir).selectExpr("rel_filepath", "ok")
      .as[(String, Boolean)].collect().sorted.toSeq
    assert(reg == files.keys.toSeq.sorted.map(_ -> true))
  }

  test("ObjectStoreTransferApp: a replayed batch leaves one registry row per file") {
    import spark.implicits._
    val (base, topicDir, registryDir) = layout("objstore_replay")
    val store = base.resolve("store").toUri.toString
    ObjectStoreTransferApp.run(spark, topicDir, store, "t1", registryDir)
    AppIngest.forgetLastCommit(base.resolve("registry/_checkpoint_transfer"))
    ObjectStoreTransferApp.run(spark, topicDir, store, "t1", registryDir)
    val rows = spark.read.parquet(registryDir).groupBy("rel_filepath").count()
      .as[(String, Long)].collect().toMap
    assert(rows == files.keySet.map(_ -> 1L).toMap)
  }
}
