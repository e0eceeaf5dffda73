package graft

import org.scalatest.funsuite.AnyFunSuite

/** Blanket physical-plan audit over EVERY declared query: no query may
  * plan a CartesianProduct, and BroadcastNestedLoopJoin (the all-pairs
  * fallback) is allowed only where the design calls for a broadcast cross
  * join against a provably tiny side (single query vector, k centroids,
  * generated calendar, probe list). A new query that accidentally joins
  * without keys fails here instead of melting at scale.
  */
class PlanAuditSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  // BNLJ-by-design: tiny broadcast side crossed against the corpus
  private val bnljAllowed = Set(
    "q26_cosine_topk", // 1-row query vector
    "x04_ann_ivf", // 8 centroids + 1-row query vector
    "x12_embedding_neardup", // label-blocked pair join (non-equi residual)
    "x13_embedding_lsh_sig", // 8x64 hyperplane table
    "x29_ann_lsh", // probe list + query vector
    "x44_knn_join", // hyperplane table inside signLshSigs
    "x63_kmeans_step", // 8 centroids
    "x65_gap_fill", // generated hourly calendar
    "x15_vec_centroids", // 64-row dim table
    "x14_contamination", // broadcast shingle set semi-join
    "x39_bloom_contamination", // broadcast verify set
    "x47_temperature_mix", // broadcast quota table
    "x49_quantile_bins", // broadcast bin edges
    "x34_asof_tolerance", // equi+range join: range residual on custkey equi key
    "q15_asof_join",
    "x88_bm25", // 1-row corpus stats (N, avgdl) broadcast cross join
    "x96_countmin_freqs", // 1-row CM grid broadcast against 20 probe rows
    "x100_interp_fill", // x65's generated hourly calendar, broadcast
    "x105_pq_adc", // 8-codeword codebook broadcast cross join (PQ encode)
    "x91_share_of_total", // 1-row grand-total broadcast (replaces global window)
    "x109_unigram_nll", // 1-row LM-total broadcast cross join
    "x110_semdedup", // 1-row centroid-array broadcast (in-row argmin assignment)
    "x111_dsir_importance", // 1-row LM-totals broadcast cross join
    "x114_nll_tertiles", // 1-row doc-count broadcast (tertile edges)
    "x118_power_iteration", // 1-row max|s_j| broadcast (direction normalize)
    "x120_bpe_apply", // 1-row 8-merge array broadcast (in-row encode fold)
    "x122_ivfpq_search", // 1-row centroid/probe arrays + 8-seed codebook broadcast
    "x124_ivfpq_recall", // x122's broadcasts + 1-row query-vector broadcast (exact arm)
    "x128_lang_token_mi", // 1-row corpus-total broadcast cross join
    "x129_kmv_setops", // 5-row sketch/marginal self-pairing (non-equi l1<l2)
    "x130_curation_pipeline", // 1-row LM-total + doc-count broadcasts (x109/x114 shapes)
    "x131_epoch_shuffle", // 1-row corpus-count broadcast (per-epoch offset)
    "x166_bloom_dedup_gate", // 1-row 128 KiB bloom-bitset broadcast
    "x174_word_pmi", // 1-row token-total broadcast cross join
    "x175_bigram_nll", // 1-row token-total broadcast cross join
    "x176_link_pagerank", // 1-row node-count broadcast (teleport base)
    "x177_leakproof_split", // 1-row leak-count broadcast cross join
    "x182_hits", // 1-row max-score broadcast (fixed-point normalize)
    "x185_drift_audit", // 1-row snapshot-totals broadcast cross join
    "x188_corpus_balance", // 1-row corpus-totals broadcast cross join
    "x192_token_recipe", // 1-row budget-totals broadcast cross join
    "x193_recipe_sampling", // 1-row corpus-totals broadcast cross join
    "x197_tfidf_terms", // 1-row doc-count broadcast cross join
    "x198_curriculum_shards", // 1-row corpus-count broadcast cross join
    "x207_lsh_sweep", // 1-row truth-count broadcast cross join
    "x210_dataset_card", // 1-row corpus-count broadcast cross join (median)
    "x216_lang_temperature", // 1-row weight-totals broadcast cross join
    "x217_quality_drift", // 1-row half-totals broadcast cross join
    "x226_index_bm25", // 1-row (N, avgdl) corpus-stats broadcast cross join
    "x235_index_bm25_served") // same 1-row stats cross join, served path

  test("no declared query plans a CartesianProduct; BNLJ only where designed") {
    val offenders = scala.collection.mutable.ListBuffer[String]()
    for (dq <- SparkEntry.registry) {
      val p = dq.run(spark, sf).queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct"))
        offenders += s"${dq.name}: CartesianProduct"
      if (p.contains("BroadcastNestedLoopJoin") && !bnljAllowed(dq.name))
        offenders += s"${dq.name}: unexpected BroadcastNestedLoopJoin"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
