package graft.batch

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding trainer — the tokenizer-training loop every LLM data
  * pipeline runs over its corpus, as a driver-controlled fixpoint in the
  * style of [[Components.minLabelFixpoint]] (x37): each round counts
  * adjacent symbol pairs (x93's query shape — pairs are generated IN-ROW by
  * zipping the symbol array against its own tail, so only (pair, count)
  * partials shuffle), picks the global argmax pair, and rewrites every
  * sequence with that pair fused. The driver sees exactly ONE row per round
  * (the winning pair — loop control, like x37's convergence count); corpus
  * rows never leave executors.
  *
  * Scale posture: each round is one map-side-combining count plus one
  * narrow per-row rewrite — no join, no window. Lineage is truncated with
  * `localCheckpoint` every round so task binaries stay constant across
  * merges. At 100 TB the count is the only exchange, and its key space
  * (distinct adjacent pairs) shrinks every round. Ties on count break
  * lexicographically, so training is deterministic at any parallelism.
  *
  * Reference context: the reference ships no tokenizer, but its chunked
  * payloads feed exactly this kind of corpus pass; BPE per Sennrich et al.
  * 2016 (arXiv:1508.07909), merge semantics = left-to-right non-overlapping,
  * matching the original implementation.
  */
object Bpe {

  /** Fuse non-overlapping occurrences of (a, b) left-to-right: the merge
    * step of one BPE round. Pure — usable in tests and in the distributed
    * map. The fused symbol is the concatenation a+b; e.g. ("l","o") over
    * ["l","o","w"] → ["lo","w"]. */
  def mergePair(syms: IndexedSeq[String], a: String, b: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Train `nMerges` BPE merges over a corpus of symbol sequences.
    * `seqs`: one symbol array per row. Returns the learned merge list in
    * order plus the final rewritten corpus. Stops early when no adjacent
    * pair repeats. */
  def train(seqs: Dataset[IndexedSeq[String]], nMerges: Int)
      : (Seq[(String, String)], Dataset[IndexedSeq[String]]) = {
    import seqs.sparkSession.implicits._
    var corpus = seqs.localCheckpoint()
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      // x93's shape: in-row adjacent pairs → map-side-combining count →
      // global argmax (count desc, pair asc for determinism)
      val top = corpus.flatMap(s => s.iterator.zip(s.iterator.drop(1)))
        .toDF("a", "b")
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      top.headOption.filter(_._3 > 1) match {
        case Some((a, b, _)) =>
          merges += ((a, b))
          val prev = corpus
          // localCheckpoint is eager: the new generation materializes here,
          // so the previous round's cached blocks can be released — without
          // this, executors pin O(rounds × corpus) dead generations
          corpus = corpus.map(s => mergePair(s, a, b)).localCheckpoint()
          Components.release(prev)
          round += 1
        case None => done = true
      }
    }
    (merges.result(), corpus)
  }

  /** Character-level symbol sequences from a token column (the classic BPE
    * setup: each word becomes its character sequence; merges then learn
    * subwords). In-row split — no shuffle. */
  def charSequences(words: DataFrame, col_ : String): Dataset[IndexedSeq[String]] = {
    import words.sparkSession.implicits._
    words.select(col(col_)).as[String]
      .map(w => w.map(_.toString).toIndexedSeq)
  }
}
