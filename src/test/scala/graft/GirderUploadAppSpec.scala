package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.app.{DownloadDirectoryApp, GirderTransferApp, UploadFileApp}
import graft.core.ChunkCodec

/** The two round-10 console entries, driven end-to-end:
  * [[UploadFileApp]] (the reference's `UploadDataFile` single-file
  * upload) proves byte identity through the download path, and
  * [[GirderTransferApp]] (the reference's `GirderUploadStreamProcessor`)
  * consumes a chunk topic and lands every completed file on a live local
  * REST server with one registry row per file, also when a batch whose
  * commit was lost is replayed. */
class GirderUploadAppSpec extends AnyFunSuite with LocalSpark {

  test("UploadFileApp: one file -> topic -> download path, byte-identical") {
    val base = Files.createTempDirectory("upload_file_app")
    val rnd = new scala.util.Random(97)
    val content = new Array[Byte](3000); rnd.nextBytes(content)
    val src = base.resolve("payload.bin")
    Files.write(src, content)
    val topicDir = base.resolve("topic").toString
    UploadFileApp.run(spark, src.toString, topicDir, chunkSize = 512)

    val outDir = base.resolve("out").toString
    DownloadDirectoryApp.run(spark, topicDir, outDir)
    val got = Files.readAllBytes(java.nio.file.Paths.get(outDir, "payload.bin"))
    assert(got.toSeq == content.toSeq, "downloaded bytes differ from source")
  }

  test("UploadFileApp --select-bytes uploads only the compacted ranges") {
    import spark.implicits._
    val base = Files.createTempDirectory("upload_file_sel")
    val content = (0 until 1000).map(_.toByte).toArray
    val src = base.resolve("sel.bin")
    Files.write(src, content)
    val topicDir = base.resolve("topic").toString
    UploadFileApp.run(spark, src.toString, topicDir, chunkSize = 256,
      selectBytes = Seq((0L, 100L), (500L, 700L)))
    val wire = spark.read.parquet(topicDir)
      .selectExpr("key", "value").as[(String, Array[Byte])]
    val chunks = wire.collect().map { case (_, v) =>
      graft.core.ChunkCodec.unpack(v)
    }
    val assembled = new Array[Byte](300)
    chunks.foreach { c =>
      System.arraycopy(c.data, 0, assembled, c.chunkOffsetWrite.toInt, c.data.length)
    }
    assert(assembled.toSeq ==
      (content.slice(0, 100) ++ content.slice(500, 700)).toSeq)
  }

  test("GirderTransferApp: topic -> assemble -> REST server + registry") {
    import spark.implicits._
    val srv = new FakeRestServer
    try {
      val base = Files.createTempDirectory("girder_app")
      val topicDir = base.resolve("topic").toString
      val registryDir = base.resolve("registry").toString
      val files = randomFiles(Seq("a/f1.bin", "f2.bin"), seed = 43)
      AppIngest.writeTopic(spark, topicDir, files)

      GirderTransferApp.run(spark, topicDir, srv.base, registryDir)

      files.foreach { case (rel, c) =>
        val item = srv.items.get(rel)
        assert(item != null, s"$rel never reached the server")
        assert(item._2.toSeq == c.toSeq, s"$rel bytes differ on the server")
        assert(item._1 == ChunkCodec.digestHex("SHA-256", c))
      }
      assert(srv.folders.contains("a"))
      val reg = spark.read.parquet(registryDir)
        .selectExpr("rel_filepath", "action").as[(String, String)]
        .collect().toMap
      assert(reg == Map("a/f1.bin" -> "uploaded", "f2.bin" -> "uploaded"))
    } finally srv.stop()
  }

  test("GirderTransferApp: a replayed batch leaves one registry row per file") {
    import spark.implicits._
    val srv = new FakeRestServer
    try {
      val base = Files.createTempDirectory("girder_replay")
      val topicDir = base.resolve("topic").toString
      val registryDir = base.resolve("registry").toString
      val files = randomFiles((0 until 5).map(i => s"d${i % 2}/f$i.bin"), seed = 47)
      AppIngest.writeTopic(spark, topicDir, files)
      GirderTransferApp.run(spark, topicDir, srv.base, registryDir)
      AppIngest.forgetLastCommit(base.resolve("registry/_checkpoint_girder"))
      GirderTransferApp.run(spark, topicDir, srv.base, registryDir)
      val rows = spark.read.parquet(registryDir).groupBy("rel_filepath").count()
        .as[(String, Long)].collect().toMap
      assert(rows == files.keySet.map(_ -> 1L).toMap)
    } finally srv.stop()
  }

  private def randomFiles(rels: Seq[String], seed: Int): Map[String, Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    rels.map { rel =>
      val c = new Array[Byte](700 + rnd.nextInt(800)); rnd.nextBytes(c)
      rel -> c
    }.toMap
  }
}
