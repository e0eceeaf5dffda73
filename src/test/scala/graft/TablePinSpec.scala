package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Core

/** `Core.table` infers a table's schema once per session and path, and
  * reads it with that schema afterwards: a later resolution runs no
  * footer job, two reads still join as a self-join, and a rewritten file
  * is inferred afresh. */
class TablePinSpec extends AnyFunSuite with LocalSpark {

  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  test("a second resolution of a table runs no job") {
    Core.tableNames.foreach { t =>
      val first = Core.table(spark, sf, t).schema
      assert(LocalSpark.jobsDuring(spark)(Core.table(spark, sf, t)) == 0, t)
      assert(Core.table(spark, sf, t).schema == first, t)
    }
  }

  test("two reads of one table still join") {
    val a = Core.table(spark, sf, "nation")
    val b = Core.table(spark, sf, "nation")
    val joined = a.join(b, a("n_regionkey") === b("n_regionkey") && a("n_nationkey") =!= b("n_nationkey"))
      .select(a("n_nationkey"), b("n_nationkey"))
    // ordered pairs of distinct nations that share a region
    val pairs = a.groupBy("n_regionkey").count().collect().map(_.getLong(1)).map(c => c * (c - 1)).sum
    assert(pairs > 0 && joined.count() == pairs)
  }

  /** Writes `df` as the one parquet file `path`, the test tables' layout. */
  private def writeFile(df: DataFrame, path: String): Unit = {
    val tmp = Paths.get(path + ".tmp")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    Harness.rmTree(tmp)
  }

  test("a rewritten table is read with its new schema, as a file or a directory") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_table_pin").toString
    val before = Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
    val after = Seq(("x", 1L, 2L)).toDF("name", "lo", "hi")
    try {
      writeFile(before, s"$dir/file.parquet")
      before.write.parquet(s"$dir/dir.parquet")
      for (t <- Seq("file", "dir")) {
        assert(Core.table(spark, dir, t).schema.map(_.dataType) == Seq(LongType, StringType), t)
        assert(LocalSpark.jobsDuring(spark)(Core.table(spark, dir, t)) == 0, t)
      }
      writeFile(after, s"$dir/file.parquet")
      after.write.mode("overwrite").parquet(s"$dir/dir.parquet")
      for (t <- Seq("file", "dir")) {
        val again = Core.table(spark, dir, t)
        assert(again.columns.toSeq == Seq("name", "lo", "hi"), t)
        assert(again.as[(String, Long, Long)].collect().toSeq == Seq(("x", 1L, 2L)), t)
      }
    } finally Harness.rmTree(Paths.get(dir))
  }
}
