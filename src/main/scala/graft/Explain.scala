package graft

/** Plan inspector: `runMain graft.Explain [queryName ...]` prints the
  * formatted physical plan of each named declared query (all if none given)
  * against SPARK_GRAFT_SF_DIR, under the session config `graft.Bench` times.
  * Used to audit pushdown/pruning/broadcast decisions (see SCALE.md).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"\n========== $name ==========")
          println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        case None => System.err.println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
