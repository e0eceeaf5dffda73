package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.app.AppSession

/** Spark keeps generated classes in one LRU cache per JVM, 100 entries by
  * default. A session that cycles through more distinct classes than that
  * evicts each one before its query comes round again and recompiles nearly
  * all of them every round. The app session, and the spec session with it,
  * size the cache at [[AppSession.CodegenCacheEntries]]; a second round of
  * the same queries must then compile nothing.
  */
class CodegenCacheSpec extends AnyFunSuite with LocalSpark {

  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  /** The benchmark's query mix: about 150 distinct generated classes here. */
  private val queries = Seq(
    "q01_projection", "q04_hash_integrity", "q08_offset_gate", "q10_json_build",
    "q24_date_histogram", "q25_exact_dedup", "x15_vec_centroids", "x20_pivot",
    "x60_gear_cdc", "x78_regex_extract", "x141_webp_tiff_dims", "x215_chat_masking",
    "x86_percentile_cont")

  /** Janino compiles while every query runs once to the noop sink. AQE
    * is off: it re-plans a query as its stages finish, and with it some
    * generated sources differ from run to run (a second round compiled
    * 0 classes in one run and 10 in another). */
  private def round(): Long = LocalSpark.withConf("spark.sql.adaptive.enabled" -> "false") {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, sf).write.mode("overwrite").format("noop").save()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second round of the same queries compiles no class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      AppSession.CodegenCacheEntries.toString)
    val first = round()
    val second = round()
    info(s"Janino compiles: first round $first, second round $second")
    assert(second == 0, s"second round compiled $second classes (first: $first)")
  }
}
