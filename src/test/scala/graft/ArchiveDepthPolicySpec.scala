package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Archives
import graft.streaming.Pipelines

/** The nested-archive DEPTH CONTRACT, pinned as policy rather than
  * left implicit: `archiveText` expands exactly ONE level of nested
  * archives. A depth-2 archive member surfaces as a single routed
  * `other` row (`outer!inner` name, ok = false) — it does NOT
  * recurse, so a hostile a-zip-in-b-zip-in-c-zip chain (or a
  * self-referential quine zip) has a bounded, deterministic outcome:
  * the plan is STATIC, unbounded recursion is not expressible in it,
  * and an expansion bomb hits this depth floor instead of the
  * executor heap. */
class ArchiveDepthPolicySpec extends AnyFunSuite with LocalSpark {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, String, Boolean)] =
    df.select("path", "member", "kind", "ok").collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("-"),
        r.getString(2), r.getBoolean(3))).toSeq

  test("depth 2+ stays a routed member; the chain never recurses") {
    import spark.implicits._
    val z1 = Archives.buildZip(Seq(
      ("deep.txt", "bottom of the well".getBytes, false)))
    val z2 = Archives.buildZip(Seq(("z1.zip", z1, false)))
    val z3 = Archives.buildZip(Seq(("z2.zip", z2, false)))
    val got = rows(Pipelines.archiveText(
      Seq(("bomb.zip", z3)).toDF("path", "content")))

    // exactly one row: the level-2 archive member, routed not recursed
    assert(got.size == 1, s"depth policy broke: $got")
    val (_, member, kind, ok) = got.head
    assert(member == "z2.zip!z1.zip")
    assert(kind == "other")
    assert(!ok)
    // and the depth-3 text never surfaces anywhere
    val texts = Pipelines.archiveText(
        Seq(("bomb.zip", z3)).toDF("path", "content"))
      .select("text").collect().flatMap(r => Option(r.getString(0)))
    assert(!texts.exists(_.contains("bottom of the well")))
  }

  test("one level DOES expand: depth-1 members extract in full") {
    import spark.implicits._
    val z1 = Archives.buildZip(Seq(
      ("inner.txt", "one level down".getBytes, false)))
    val z2 = Archives.buildZip(Seq(
      ("top.txt", "at the top".getBytes, false),
      ("z1.zip", z1, false)))
    val got = rows(Pipelines.archiveText(
      Seq(("a.zip", z2)).toDF("path", "content")))
    assert(got.map(t => (t._2, t._3, t._4)).toSet == Set(
      ("top.txt", "txt", true),
      ("z1.zip!inner.txt", "txt", true)))
  }

  test("a wide depth-2 fan stays bounded: one routed row per level-2 archive") {
    import spark.implicits._
    // 8 archives each nested at depth 2: the row count is exactly 8,
    // however large their hypothetical expansions would be
    val inner = Archives.buildZip(Seq(
      ("x.txt", ("x" * 1000).getBytes, false)))
    val mids = (1 to 8).map(i =>
      (s"m$i.zip", Archives.buildZip(Seq((s"inner$i.zip", inner, false)))))
    val outer = Archives.buildZip(mids.map { case (n, b) => (n, b, false) })
    val got = rows(Pipelines.archiveText(
      Seq(("wide.zip", outer)).toDF("path", "content")))
    assert(got.size == 8)
    assert(got.forall(t => t._3 == "other" && !t._4))
  }
}
