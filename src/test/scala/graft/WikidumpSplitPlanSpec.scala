package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Bzip2
import graft.streaming.Pipelines

/** The 100 TB posture of the splittable dump ingest (the round-11
  * flag): a multistream `.bz2` must decode PER EXTENT, not per file —
  * asserted structurally on the physical plan. The slice (extent scan
  * + substring) happens below the one hash exchange on (path, stream),
  * so each compressed stream crosses the wire exactly once; the decode
  * side above the exchange must never reference the whole-file
  * `content` column — that column ending up post-shuffle is exactly
  * the 2 GB-limit / one-task-decode failure mode this layer removes. */
class WikidumpSplitPlanSpec extends AnyFunSuite with LocalSpark {

  private def page(t: String): String =
    s"<page><title>$t</title><revision><text bytes=\"0\">body of $t" +
      "</text></revision></page>"

  test("decode rides one (path, stream) exchange; content stays map-side") {
    import spark.implicits._
    val dump = Bzip2.encode("<mediawiki><siteinfo/>".getBytes) ++
      Bzip2.encode((page("A") + page("B")).getBytes) ++
      Bzip2.encode(page("C").getBytes) ++
      Bzip2.encode("</mediawiki>".getBytes)
    val files = Seq(("d1.xml.bz2", dump), ("d2.xml.bz2", dump))
      .toDF("path", "content")
    val df = Pipelines.wikidumpPages(files)

    // semantics first: 4 extents per file, pages numbered per stream
    val rows = df.select("path", "stream", "page", "title", "ok")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        Option(r.getString(3)).orNull, r.getBoolean(4)))
      .toSet
    assert(rows == Set(
      ("d1.xml.bz2", 1, 0, null, true), ("d2.xml.bz2", 1, 0, null, true),
      ("d1.xml.bz2", 2, 1, "A", true), ("d2.xml.bz2", 2, 1, "A", true),
      ("d1.xml.bz2", 2, 2, "B", true), ("d2.xml.bz2", 2, 2, "B", true),
      ("d1.xml.bz2", 3, 1, "C", true), ("d2.xml.bz2", 3, 1, "C", true),
      ("d1.xml.bz2", 4, 0, null, true), ("d2.xml.bz2", 4, 0, null, true)))

    val plan = df.queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toSeq
    val exchanges = lines.filter(_.contains("Exchange "))
    assert(exchanges.size == 1,
      s"expected exactly the extent-spread exchange, got:\n$plan")
    assert(exchanges.head.contains("hashpartitioning") &&
      exchanges.head.contains("path#") && exchanges.head.contains("stream#"),
      s"exchange is not the (path, stream) spread:\n${exchanges.head}")

    // plans print root-first: everything ABOVE the exchange line is the
    // post-shuffle (decode) side, everything below is the map side
    val at = lines.indexWhere(_.contains("Exchange "))
    val decodeSide = lines.take(at).mkString("\n")
    val mapSide = lines.drop(at + 1).mkString("\n")
    assert(decodeSide.contains("bunzip_bytes"),
      s"decode is not above the exchange:\n$plan")
    assert(!decodeSide.contains("content#"),
      s"whole-file content column crossed the exchange:\n$plan")
    // (bz2_extents itself constant-folds into the LocalTableScan on
    // literal test input — the structural invariants are the extent
    // EXPLODE and the per-extent SLICE sitting below the exchange)
    assert(mapSide.contains("posexplode(exts"),
      s"extent explode is not map-side:\n$plan")
    assert(mapSide.contains("substring(content"),
      s"per-extent slice is not map-side:\n$plan")
  }
}
