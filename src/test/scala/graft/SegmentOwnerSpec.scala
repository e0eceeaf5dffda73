package graft

import java.util.regex.Pattern

import org.scalatest.funsuite.AnyFunSuite

/** One owner for batch-segmented tables: the partition naming, the
  * dynamic-overwrite write and the fold's scratch directory are spelled
  * out only in `IdempotentParquetSink`, so no other module can list, write
  * or fold the layout its own way. */
class SegmentOwnerSpec extends AnyFunSuite {

  test("the segment-layout literals occur only in IdempotentParquetSink") {
    for (literal <- Seq("batch_id=", "partitionOverwriteMode", "_compact_tmp")) {
      val files = SourceScan.callSites(Pattern.quote(literal).r)
        .map(_.takeWhile(_ != ':')).distinct
      assert(files == Seq("graft/streaming/Sinks.scala"), s"$literal: $files")
    }
  }
}
