package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.batch.Compaction

/** Compaction: many small files rewrite into few target-sized ones with
  * identical contents; FileStreamSink dirs are refused.
  */
class CompactionSpec extends AnyFunSuite with LocalSpark {

  test("compactDir merges small files and preserves every row") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compact").toString + "/t"
    // 20 single-row appends → ≥20 tiny files (a streaming sink's residue)
    for (i <- 0 until 20)
      Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    val beforeRows = spark.read.parquet(dir).collect().map(_.toString).sorted
    val (before, after) = Compaction.compactDir(spark, dir, targetBytes = 1L << 30)
    assert(before >= 20 && after === 1, s"before=$before after=$after")
    val afterRows = spark.read.parquet(dir).collect().map(_.toString).sorted
    assert(afterRows === beforeRows)
  }

  test("targetBytes controls the output file count") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compact_n").toString + "/t"
    spark.range(100000).toDF("id").repartition(16)
      .write.parquet(dir)
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val (_, after) = Compaction.compactDir(spark, dir, targetBytes = totalBytes / 4 + 1)
    assert(after >= 3 && after <= 5, s"after=$after for quarter-size target")
    assert(spark.read.parquet(dir).count() === 100000L)
  }

  test("refuses FileStreamSink dirs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compact_sink").toString + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    Files.createDirectory(java.nio.file.Paths.get(dir, "_spark_metadata"))
    val e = intercept[IllegalArgumentException] {
      Compaction.compactDir(spark, dir)
    }
    assert(e.getMessage.contains("refusing to compact"))
  }
}
