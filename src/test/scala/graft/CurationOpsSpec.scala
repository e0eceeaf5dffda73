package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Similarity, TextOps}

/** Semantic invariants for the round-4 curation operators — properties the
  * oracle hash cannot express (it only proves both engines agree; these
  * prove the answer means what it claims). Data: sf0.001 fixtures.
  */
class CurationOpsSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  test("x46: dup counts are bounded and the fraction is consistent") {
    import spark.implicits._
    val rows = TextOps.x46.run(spark, sf)
      .select("doc_id", "n_grams", "n_dup", "dup_frac")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, nGrams, nDup, frac) =>
      assert(nGrams > 0 && nDup >= 0 && nDup <= nGrams, s"doc $id counts")
      assert(math.abs(frac - math.rint(nDup.toDouble / nGrams * 1e6) / 1e6) < 1e-9,
        s"doc $id fraction mismatch")
    }
    // the signal actually fires on the fixture: some doc shares an 8-gram
    assert(rows.exists(_._3 > 0), "no duplicated 8-grams found at all")
  }

  test("x47: quotas follow count^0.5 weighting and the sample respects them") {
    import spark.implicits._
    val rows = TextOps.x47.run(spark, sf)
      .select("lang", "n_docs", "quota", "n_sampled")
      .as[(String, Long, Int, Long)].collect()
    val total = rows.map(_._3.toLong).sum
    // floor(x+0.5) per language can drift from 200 by at most langs/2
    assert(math.abs(total - 200L) <= rows.length / 2 + 1,
      s"quota total $total far from 200")
    rows.foreach { case (lang, n, quota, sampled) =>
      assert(sampled == math.min(quota.toLong, n), s"$lang sample size")
    }
    // temperature flattening: the largest language's quota share must sit
    // BELOW its document share (and above for the smallest)
    val nTot = rows.map(_._2).sum.toDouble
    val big = rows.maxBy(_._2); val small = rows.minBy(_._2)
    assert(big._3 / total.toDouble < big._2 / nTot, "head not flattened")
    assert(small._3 / total.toDouble > small._2 / nTot, "tail not boosted")
  }

  test("x48: quantization is within half-step of the original, extremes hit 127") {
    import spark.implicits._
    val rows = Similarity.x48.run(spark, sf)
      .select("vec_id", "scale", "qmin", "qmax", "err")
      .as[(Long, Double, Int, Int, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, scale, qmin, qmax, err) =>
      assert(scale > 0, s"vec $id zero scale")
      assert(qmin >= -127 && qmax <= 127, s"vec $id clamp range")
      // the max-|x| element quantizes to exactly ±127 by construction
      assert(qmax == 127 || qmin == -127, s"vec $id no extreme code")
      // mean |residual| per element ≤ scale/2 (+ rounding slack): 64 dims
      assert(err <= 64 * (scale / 2) + 1e-6, s"vec $id error mass too large")
    }
  }

  test("x49: bins partition each language ~into quarters with ordered ranges") {
    import spark.implicits._
    val rows = TextOps.x49.run(spark, sf)
      .select("lang", "bin", "n", "min_chars", "max_chars")
      .as[(String, Int, Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (lang, bins) =>
      val sorted = bins.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length), s"$lang bin ids")
      // ranges are ordered and non-overlapping across bins
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 <= b._4, s"$lang bins overlap")
        case _ =>
      }
      // quartile balance: no bin holds more than half the language
      val n = sorted.map(_._3).sum
      sorted.foreach(b => assert(b._3 <= (n + 1) / 2, s"$lang bin ${b._2} oversized"))
    }
  }

  test("x52: chunk multiplicity histogram conserves chunks and prices the dedup") {
    import spark.implicits._
    val rows = TextOps.x52.run(spark, sf)
      .select("copies", "n_hashes", "bytes_saved")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (copies, nHashes, saved) =>
      assert(copies >= 1 && nHashes >= 1)
      if (copies == 1) assert(saved == 0, "singleton chunks save nothing")
      else assert(saved > 0, s"copies=$copies saved nothing")
    }
    // conservation: Σ copies·n_hashes == total chunks emitted by the chunker
    val totalChunks = rows.map { case (c, n, _) => c * n }.sum
    val fromX51 = TextOps.x51.run(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_chunks")).as[Long].head()
    assert(totalChunks == fromX51, s"histogram $totalChunks != chunker $fromX51")
  }

  test("x53: df spectrum mass equals total (doc, gram) incidences") {
    import spark.implicits._
    val rows = TextOps.x53.run(spark, sf)
      .select("df", "n_grams", "mass").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (df, n, mass) => assert(mass == df * n) }
    // cross-check against x46's per-doc gram counts: Σ mass == Σ n_grams
    val incidences = TextOps.x46.run(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_grams")).as[Long].head()
    assert(rows.map(_._3).sum == incidences)
    // and the duplicated share agrees with x46's corpus-wide n_dup
    val dupFromSpectrum = rows.filter(_._1 >= 2).map(_._3).sum
    val dupFromX46 = TextOps.x46.run(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_dup")).as[Long].head()
    assert(dupFromSpectrum == dupFromX46)
  }

  test("x54: melt emits one row per (lang, metric) and values round-trip") {
    import spark.implicits._
    val rows = TextOps.x54.run(spark, sf)
      .select("lang", "metric", "value").as[(String, String, Double)].collect()
    val langs = graft.queries.Core.table(spark, sf, "documents")
      .select("lang").distinct().as[String].collect().toSet
    assert(rows.length == langs.size * 3)
    val byLang = rows.groupBy(_._1)
    assert(byLang.keySet == langs)
    byLang.foreach { case (lang, ms) =>
      val m = ms.map(r => r._2 -> r._3).toMap
      assert(m.keySet == Set("n_docs", "avg_chars", "max_chars"), s"$lang metrics")
      assert(m("n_docs") > 0 && m("max_chars") >= m("avg_chars"), s"$lang values")
    }
  }

  test("x50: the survivor really is the longest (ties to smaller id) per source") {
    import spark.implicits._
    val docs = graft.queries.Core.table(spark, sf, "documents")
      .select("source", "doc_id", "n_chars")
      .as[(String, Long, Long)].collect()
      .groupBy(_._1)
    val rows = TextOps.x50.run(spark, sf)
      .select("source", "n_docs", "max_chars", "survivor_id", "chars_dropped")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.length == docs.size)
    rows.foreach { case (src, nDocs, maxChars, survivor, dropped) =>
      val group = docs(src)
      assert(nDocs == group.length)
      val best = group.minBy { case (_, id, nc) => (-nc, id) }
      assert(survivor == best._2, s"$src survivor")
      assert(maxChars == best._3 && dropped == group.map(_._3).sum - maxChars)
    }
  }

  test("x106: docs shorter than the 8-gram window pass through unscathed") {
    // regression: the naive sequence(1, size-7) DESCENDS for <8-token docs
    // ([1,0]) and slice(l, 0, 8) throws — the guard must emit no grams and
    // keep the short doc intact instead of crashing the query
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("x106short").toString
    val dup = "alpha beta gamma delta epsilon zeta eta theta trailing"
    Seq(
      (1L, "tiny doc here", "en", "s", 13L),             // 3 tokens < 8
      (2L, dup + " one", "en", "s", (dup.length + 4).toLong),
      (3L, dup + " two", "en", "s", (dup.length + 4).toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextOps.x106.run(spark, tmp)
      .select("doc_id", "n_tokens", "n_removed", "cleaned")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(rows(0) == ((1L, 3L, 0L, "tiny doc here")), "short doc must survive intact")
    // the two long docs share an 8-gram run, so both lose tokens
    assert(rows(1)._3 > 0 && rows(2)._3 > 0, "shared 8-grams must be scrubbed")
  }
}
