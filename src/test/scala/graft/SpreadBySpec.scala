package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipelines

/** `Pipelines.spreadBy` spreads over `defaultParallelism`, floored at
  * `spark.sql.shuffle.partitions` only where a session sets that conf. A
  * session that leaves it unset must not take Spark's default of 200 as
  * the floor: 200 tasks for a small listing on a 4-core box. */
class SpreadBySpec extends AnyFunSuite with LocalSpark {

  private def partitions(df: DataFrame): Option[Int] =
    Pipelines.spreadBy(df, col("k")).queryExecution.analyzed.collectFirst {
      case r: RepartitionByExpression => r.numPartitions
    }

  test("an unset shuffle.partitions leaves the spread at defaultParallelism") {
    val key = "spark.sql.shuffle.partitions"
    LocalSpark.isolated(LocalSpark.session.newSession()) { s =>
      val cores = s.sparkContext.defaultParallelism
      s.conf.unset(key)
      assert(s.conf.getOption(key).contains("200"), "Spark's default applies when unset")
      val df = s.range(10).toDF("k")
      assert(partitions(df).contains(cores))
      s.conf.set(key, (cores * 3).toString)
      assert(partitions(df).contains(cores * 3), "a set conf floors the spread")
      s.conf.set(key, "1")
      assert(partitions(df).contains(cores))
    }
  }
}
