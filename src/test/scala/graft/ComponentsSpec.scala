package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.batch.Components

/** Min-label fixpoint: converges to true connected components on graphs
  * where one propagation round under-merges (chains), handles isolated
  * nodes, and is iteration-order independent. */
class ComponentsSpec extends AnyFunSuite with LocalSpark {

  test("chain merges to one component; isolated nodes keep themselves") {
    import spark.implicits._
    // chain 0-1-2-3-4-5 (diameter 5 — needs >1 round), pair 10-11, isolate 20
    val nodes = spark.createDataset(Seq(0L, 1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L)).toDF("id")
    val undirected = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val edges = spark.createDataset(undirected ++ undirected.map(_.swap))
      .toDF("src", "dst")
    val got = Components.minLabelFixpoint(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert((0L to 5L).forall(got(_) == 0L))
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(got(20L) == 20L)
  }

  test("random graphs: fixpoint labels equal brute-force components") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 60
    val undirected = (0 until 70).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    // brute-force union-find on the driver as the oracle
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    undirected.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val nodes = spark.createDataset((0 until n).map(_.toLong)).toDF("id")
    val edges = spark.createDataset(undirected ++ undirected.map(_.swap)).toDF("src", "dst")
    val got = Components.minLabelFixpoint(nodes, edges).as[(Long, Long)].collect().toMap
    // min-label rep == min member of the union-find component
    val minOf = expect.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    assert(got == expect.map { case (k, r) => k -> minOf(r) })
  }

  test("a multi-round run keeps only the edge cut and the final generation") {
    import spark.implicits._
    // chain 0-1-…-15: several rounds even with pointer jumping
    val undirected = (0L until 15L).map(i => (i, i + 1))
    val nodes = spark.createDataset(0L to 15L).toDF("id")
    val edges = spark.createDataset(undirected ++ undirected.map(_.swap)).toDF("src", "dst")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val labels = Components.minLabelFixpoint(nodes, edges)
    val held = sc.getPersistentRDDs.keySet -- before
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 0L))
    assert(held.size == 2, s"persisted RDDs left by the call: $held")
  }
}
