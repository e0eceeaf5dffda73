package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.batch.ChunkPipeline
import graft.streaming.Reproducer

/** G4/G5 reproducer: completed files map to result messages keyed
  * `{rel_filepath /→_}_chunk_processing_result` (the reference's
  * get_message_prepend ends in `_chunk`) with a metadata-JSON value —
  * size, chunk count, sha512, mtime, and `k: v` header lines parsed from
  * text payloads (reference data_file_stream_reproducer.py:65-297,
  * metadata_json_reproducer.py:12-98). */
class ReproducerSpec extends AnyFunSuite with LocalSpark {

  test("headerMeta parses leading k: v lines from text, stops at body") {
    val txt = "Instrument: XRD-7\nOperator: jd\nScan points: 120\n\nbody body".getBytes
    val m = Reproducer.headerMeta(txt)
    assert(m == Map("Instrument" -> "XRD-7", "Operator" -> "jd", "Scan points" -> "120"))
    assert(Reproducer.headerMeta(Array[Byte](0, 1, 2, 3)) == Map.empty)
    assert(Reproducer.headerMeta(null) == Map.empty)
  }

  test("completed files become result messages; partials are excluded") {
    import spark.implicits._
    val payload = "Mode: fast\nCells: 9\n\ndata line".getBytes
    val files = spark.createDataset(Seq(
      ("report.csv", "lab/a", payload, Option(2.5))))
    val chunks = ChunkPipeline.chunkFiles(files, 8)
    val assembled = ChunkPipeline.assemble(chunks)
    val msgs = Reproducer.resultMessages(assembled)
      .selectExpr("key", "CAST(value AS STRING) AS json").as[(String, String)].collect()
    assert(msgs.length == 1)
    val (key, json) = msgs.head
    assert(key == "lab/a/report.csv".replace("/", "_") + "_chunk_processing_result")
    assert(json.contains("\"rel_filepath\":\"lab/a/report.csv\""))
    assert(json.contains(s""""size":${payload.length}"""))
    assert(json.contains("\"Mode\":\"fast\"") && json.contains("\"Cells\":\"9\""))
    // sha512 in the message matches the actual payload hash
    val sha = graft.core.ChunkCodec.sha512(payload).map("%02x".format(_)).mkString
    assert(json.contains(sha))

    // a partial (missing chunk) file must not produce a result message
    val partial = ChunkPipeline.assemble(
      chunks.filter(_.chunk_i > 1)) // drop the first chunk
    assert(Reproducer.resultMessages(partial).count() == 0)
  }
}
