package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.batch.Bpe

/** BPE trainer: merge semantics (left-to-right non-overlapping), parity
  * with a sequential reference implementation on the classic corpus, and
  * partition-count independence (the distributed argmax must not depend on
  * how the corpus is split).
  */
class BpeSpec extends AnyFunSuite with LocalSpark {

  test("mergePair fuses left-to-right, non-overlapping") {
    assert(Bpe.mergePair(IndexedSeq("l", "o", "w"), "l", "o") ===
      IndexedSeq("lo", "w"))
    // overlapping runs: "aaa" merging (a,a) fuses the FIRST pair only
    assert(Bpe.mergePair(IndexedSeq("a", "a", "a"), "a", "a") ===
      IndexedSeq("aa", "a"))
    assert(Bpe.mergePair(IndexedSeq("a", "a", "a", "a"), "a", "a") ===
      IndexedSeq("aa", "aa"))
    assert(Bpe.mergePair(IndexedSeq("x", "y"), "a", "b") === IndexedSeq("x", "y"))
  }

  /** Sequential reference: same tie-break (count desc, pair lexicographic). */
  private def refTrain(corpus: Seq[IndexedSeq[String]], nMerges: Int)
      : (Seq[(String, String)], Seq[IndexedSeq[String]]) = {
    var c = corpus
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      val counts = c.flatMap(s => s.zip(s.drop(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val best = counts.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.headOption
      best.filter(_._2 > 1) match {
        case Some(((a, b), _)) =>
          merges += ((a, b))
          c = c.map(s => Bpe.mergePair(s, a, b))
          round += 1
        case None => done = true
      }
    }
    (merges.result(), c)
  }

  test("distributed training matches the sequential reference (Sennrich corpus)") {
    import spark.implicits._
    // the classic example: low, lower, newest, widest with multiplicities
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val corpus = words.map(w => w.map(_.toString).toIndexedSeq)
    val (refMerges, refFinal) = refTrain(corpus, 8)
    for (parts <- Seq(1, 4)) {
      val ds = spark.createDataset(corpus).repartition(parts)
      val (merges, finalDs) = Bpe.train(ds, 8)
      assert(merges === refMerges, s"merge sequence diverged at parts=$parts")
      assert(finalDs.collect().toSeq.map(_.mkString(" ")).sorted ===
        refFinal.map(_.mkString(" ")).sorted,
        s"final corpus diverged at parts=$parts")
    }
    // sanity: the classic corpus learns the 'es' → 'est' fusion chain
    assert(refMerges.contains(("e", "s")) && refMerges.contains(("es", "t")))
  }

  test("train on real documents tokens (smoke, sf0.001)") {
    import spark.implicits._
    val words = graft.queries.Core.table(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("explode(filter(split(lower(text), '[^a-z]+'), x -> x <> '')) AS w")
      .limit(2000)
    val seqs = Bpe.charSequences(words, "w")
    val (merges, _) = Bpe.train(seqs, 3)
    assert(merges.size === 3)
    assert(merges.distinct.size === 3) // three different fusions
  }

  test("training keeps only the final generation of the corpus") {
    import spark.implicits._
    val seqs = spark.createDataset(Seq("lower", "lowest", "newer", "wider", "low", "low"))
      .map(w => w.map(_.toString).toIndexedSeq)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (merges, corpus) = Bpe.train(seqs, 4)
    val held = sc.getPersistentRDDs.keySet -- before
    assert(merges.size > 1)
    assert(corpus.count() == 6)
    assert(held.size == 1, s"persisted RDDs left by ${merges.size} merges: $held")
  }
}
