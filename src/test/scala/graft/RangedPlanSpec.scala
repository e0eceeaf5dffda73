package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SevenZip
import graft.streaming.Pipelines

/** The 100 TB posture of the RANGED readers, pinned structurally on
  * the physical plan (the WikidumpSplitPlanSpec posture, one layer
  * over): the LISTING must spread across tasks BEFORE the header scans
  * run — a listing usually arrives as ONE split (one parquet
  * row-group, one text file), and without the path repartition every
  * header pread serializes into a single task (found by measurement in
  * round 14; a refactor could silently reintroduce it) — and no
  * whole-file `content` column may appear anywhere in a ranged plan
  * (the ranged trio exists precisely to never hold file bytes in a
  * column). */
class RangedPlanSpec extends AnyFunSuite with LocalSpark {

  /** Root-first plan lines of the STATIC physical plan (AQE off for
    * the duration: adaptive execution re-prints each query stage's
    * exchange, which breaks positional assertions without changing
    * the structure being pinned). */
  private def planLines(
      mk: => org.apache.spark.sql.DataFrame): Seq[String] = {
    LocalSpark.withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = mk // built AFTER the conf flip: the QE snapshots it
      df.collect()
      df.queryExecution.executedPlan.toString.linesIterator.toSeq
    }
  }

  test("sedumpRowsRanged: the listing spreads on path BELOW the " +
      "header-scan mapPartitions; slices spread on (path, member, " +
      "slice); no content column anywhere") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("r7z_plan").toString
    val xml = ("<?xml version=\"1.0\"?><posts>" +
      "<row Id=\"1\" PostTypeId=\"1\" Body=\"b\" /></posts>").getBytes("UTF-8")
    val paths = (1 to 3).map { i =>
      val p = java.nio.file.Paths.get(tmp, s"$i.7z")
      Files.write(p, SevenZip.build(Seq(("Posts.xml", xml))))
      p.toString
    }
    val lines = planLines(Pipelines.sedumpPostsRanged(paths.toDF("path")))
    val exchanges = lines.zipWithIndex.filter(_._1.contains("Exchange "))
    assert(exchanges.size == 2,
      s"expected listing + slice exchanges, got:\n${lines.mkString("\n")}")
    val (sliceEx, sliceAt) = exchanges.head
    val (listEx, listAt) = exchanges.last
    assert(sliceEx.contains("hashpartitioning") &&
      sliceEx.contains("path#") && sliceEx.contains("member#") &&
      sliceEx.contains("sliceUnpack#"),
      s"top exchange is not the slice spread:\n$sliceEx")
    assert(listEx.contains("hashpartitioning") &&
      listEx.contains("path#") && !listEx.contains("member#"),
      s"bottom exchange is not the listing spread:\n$listEx")
    // the header scan (a mapPartitions over path strings) must sit
    // BETWEEN the two exchanges — i.e. AFTER the listing spread
    val between = lines.slice(sliceAt + 1, listAt).mkString("\n")
    assert(between.contains("MapPartitions"),
      s"header scan is not between the exchanges:\n${lines.mkString("\n")}")
    val belowListing = lines.drop(listAt + 1).mkString("\n")
    assert(!belowListing.contains("MapPartitions"),
      s"header scan runs before the listing spread:\n${lines.mkString("\n")}")
    assert(!lines.exists(_.contains("content#")),
      "a whole-file content column appeared in the ranged plan")
  }

  test("warcZstRanged: the listing spreads on path BELOW the extent " +
      "scan; frames spread on (path, frame); no content column") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("rzst_plan").toString
    val rec = graft.functions.Warc.build(Seq(
      ("response", "http://a.example/x", "2024-01-01T00:00:00Z",
        "body".getBytes("UTF-8"))))
    val paths = (1 to 3).map { i =>
      val p = java.nio.file.Paths.get(tmp, s"$i.warc.zst")
      Files.write(p, graft.functions.Zstandard.encode(rec))
      p.toString
    }
    val lines = planLines(Pipelines.warcZstRanged(paths.toDF("path")))
    val exchanges = lines.zipWithIndex.filter(_._1.contains("Exchange "))
    assert(exchanges.size == 2,
      s"expected listing + frame exchanges, got:\n${lines.mkString("\n")}")
    val (frameEx, frameAt) = exchanges.head
    val (listEx, listAt) = exchanges.last
    assert(frameEx.contains("hashpartitioning") &&
      frameEx.contains("path#") && frameEx.contains("frame#"),
      s"top exchange is not the frame spread:\n$frameEx")
    assert(listEx.contains("hashpartitioning") &&
      listEx.contains("path#") && !listEx.contains("frame#"),
      s"bottom exchange is not the listing spread:\n$listEx")
    val between = lines.slice(frameAt + 1, listAt).mkString("\n")
    assert(between.contains("MapPartitions"),
      s"extent scan is not between the exchanges:\n${lines.mkString("\n")}")
    val belowListing = lines.drop(listAt + 1).mkString("\n")
    assert(!belowListing.contains("MapPartitions"),
      s"extent scan runs before the listing spread:\n${lines.mkString("\n")}")
    assert(!lines.exists(_.contains("content#")),
      "a whole-file content column appeared in the ranged plan")
  }
}
