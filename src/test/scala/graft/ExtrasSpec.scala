package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.app.IniConfig
import graft.batch.ChunkPipeline
import graft.core.Chunker
import graft.functions.ChunkFunctions
import graft.streaming.{Heartbeats, ObjectStoreSink}

/** Catalyst codec expressions, dead-letter routing, verified object sink,
  * heartbeat windows, and the INI config system. */
class ExtrasSpec extends AnyFunSuite with LocalSpark {

  test("pack_chunk/unpack_chunk Catalyst expressions roundtrip via SQL") {
    import spark.implicits._
    ChunkFunctions.register(spark)
    val content = "catalyst expression roundtrip payload".getBytes
    val chunks = Chunker.chunk("f.bin", "s", content, 16, Nil, Some(42.0))
      .map(graft.batch.ChunkRow(_))
    spark.createDataset(chunks).createOrReplaceTempView("chunks_v")
    val back = spark.sql(
      """SELECT unpack_chunk(pack_chunk(struct(
        |  filename, file_hash, chunk_hash, chunk_offset_write, chunk_i,
        |  n_total_chunks, subdir_str, filename_append, data, file_mtime))) AS c
        |FROM chunks_v""".stripMargin)
      .selectExpr("c.filename", "c.chunk_i", "c.data", "c.file_mtime")
      .as[(String, Int, Array[Byte], Option[Double])]
      .collect().sortBy(_._2)
    assert(back.length == chunks.length)
    chunks.sortBy(_.chunk_i).zip(back).foreach { case (orig, (name, i, data, mtime)) =>
      assert(name == "f.bin" && i == orig.chunk_i)
      assert(data.toSeq == orig.data.toSeq && mtime.contains(42.0))
    }
    // null in -> null out through the native expression
    assert(spark.sql("SELECT unpack_chunk(CAST(NULL AS BINARY)) IS NULL AS n")
      .collect().head.getBoolean(0))
  }

  test("decodeOrDeadLetter routes corrupt wire bytes to quarantine") {
    import spark.implicits._
    val content = "dead letter test content".getBytes
    val good = Chunker.chunk("g.bin", "", content, 8, Nil, None)
      .map(c => (c.msgKey, graft.core.ChunkCodec.pack(c)))
    val bad = Seq(("bad_key_1", "not msgpack at all".getBytes),
      ("bad_key_2", Array[Byte](0x9a.toByte, 0x01)))
    val wire = spark.createDataset(good ++ bad).toDF("key", "value")
    val decoded = ChunkPipeline.decodeOrDeadLetter(wire)
    val ok = decoded.filter(_.error == null).collect()
    val dead = decoded.filter(_.error != null).collect()
    assert(ok.length == good.length && ok.forall(_.chunk.isDefined))
    assert(dead.map(_.key).toSet == Set("bad_key_1", "bad_key_2"))
    assert(dead.forall(d => d.error != null && d.value != null)) // replayable
  }

  test("object-store sink writes and verifies objects (file:// transport)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_objstore")
    val rnd = new scala.util.Random(9)
    val files = (0 until 4).map { i =>
      val c = new Array[Byte](500 + rnd.nextInt(2000)); rnd.nextBytes(c)
      (s"d$i/f$i.bin", c)
    }
    val ds = spark.createDataset(files.map { case (rel, c) =>
      graft.batch.AssembledFile(rel, rel.split('/').last, graft.core.Assembly.Code.Complete,
        1, c.length.toLong, graft.core.ChunkCodec.sha512(c), None, c)
    })
    val results = ObjectStoreSink.putVerified(ds, s"file://$out", "topic1").collect()
    assert(results.length == 4 && results.forall(_.ok))
    files.foreach { case (rel, c) =>
      val written = Files.readAllBytes(out.resolve("topic1").resolve(rel))
      assert(written.toSeq == c.toSeq)
    }
  }

  test("heartbeat window aggregation emits JSON beats per program") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Long)]
    val msgs = input.toDF().toDF("ts", "program_id", "n_bytes")
    val q = Heartbeats.heartbeatStream(msgs, intervalSecs = 60, watermark = "0 seconds")
      .writeStream.format("memory").queryName("beats").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (ts("2024-01-01 00:00:10"), "prog_a", 100L),
        (ts("2024-01-01 00:00:50"), "prog_a", 200L),
        (ts("2024-01-01 00:00:30"), "prog_b", 10L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:05:00"), "prog_a", 1L)) // advances watermark
      q.processAllAvailable()
      val beats = spark.table("beats").as[(String, String)].collect().toMap
      assert(beats.keySet == Set("prog_a_heartbeat", "prog_b_heartbeat"))
      assert(beats("prog_a_heartbeat").contains("\"n_messages\":2"))
      assert(beats("prog_a_heartbeat").contains("\"n_bytes\":300"))
      assert(beats("prog_b_heartbeat").contains("\"n_messages\":1"))
    } finally q.stop()
  }

  test("observe() progress beats ride the main query, one beat per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val beats = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new Heartbeats.ProgressBeats("prog_x", (k, v) => beats.add((k, v)))
    spark.streams.addListener(listener)
    val input = MemoryStream[(String, String)]
    val wire = input.toDF().toDF("key", "value")
    val q = Heartbeats.observed(wire)
      .writeStream.format("memory").queryName("observed_wire")
      .outputMode("append").start()
    try {
      input.addData(("k1", "abc"), ("k2", "defgh"))
      q.processAllAvailable()
      input.addData(("k3", "xy"))
      q.processAllAvailable()
      // listener delivery is async; wait for both data batches to surface
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def counted: Seq[(String, String)] =
        beats.toArray(Array.empty[(String, String)]).toSeq
          .filter(!_._2.contains("\"n_messages\":0"))
      while (counted.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      val got = counted
      assert(got.size == 2, s"expected 2 non-empty beats, got $got")
      assert(got.forall(_._1 == "prog_x_heartbeat"))
      assert(got.exists(b => b._2.contains("\"n_messages\":2") &&
        b._2.contains("\"n_bytes\":8")))
      assert(got.exists(b => b._2.contains("\"n_messages\":1") &&
        b._2.contains("\"n_bytes\":2")))
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("chunk_binary generator chunks via SQL and reassembles to the original") {
    import spark.implicits._
    ChunkFunctions.register(spark)
    val rnd = new scala.util.Random(17)
    val payloads = (0 until 6).map { i =>
      val b = new Array[Byte](1 + rnd.nextInt(500)); rnd.nextBytes(b); (i.toLong, b)
    }
    spark.createDataset(payloads).toDF("id", "content").createOrReplaceTempView("blobs")
    val rows = spark.sql(
      """SELECT id, chunk_i, n_total_chunks, chunk_offset, chunk_hash, chunk_data
        |FROM blobs LATERAL VIEW chunk_binary(content, 64) c
        |  AS chunk_i, n_total_chunks, chunk_offset, chunk_hash, chunk_data""".stripMargin)
      .as[(Long, Int, Int, Long, Array[Byte], Array[Byte])].collect()
    payloads.foreach { case (id, content) =>
      val mine = rows.filter(_._1 == id).sortBy(_._2)
      assert(mine.length == math.max(1, (content.length + 63) / 64))
      assert(mine.forall(_._3 == mine.length))
      val reassembled = mine.flatMap(_._6)
      assert(reassembled.toSeq == content.toSeq, s"blob $id differs")
      mine.foreach(r => assert(r._5.toSeq == graft.core.ChunkCodec.sha512(r._6).toSeq))
    }
  }

  test("streaming dedup drops at-least-once duplicates within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(java.sql.Timestamp, String, Long)]
    val deduped = graft.streaming.Pipelines.dedupStream(
      input.toDF().toDF("ts", "k", "v"), "ts", "10 minutes", Seq("k"))
    val q = deduped.writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (ts("2024-01-01 00:00:01"), "a", 1L),
        (ts("2024-01-01 00:00:02"), "a", 1L), // duplicate key in-batch
        (ts("2024-01-01 00:00:03"), "b", 2L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:01:00"), "a", 1L)) // cross-batch dup
      q.processAllAvailable()
      val rows = spark.table("dd").selectExpr("k").as[String].collect().sorted
      assert(rows.toSeq == Seq("a", "b"))
    } finally q.stop()
  }

  test("INI config parses sections, expands $ENV, builds kafka options") {
    val env = Map("KAFKA_PASSWORD" -> "sekrit")
    val cfg = IniConfig.parse(
      """# comment
        |[broker]
        |bootstrap.servers = broker1:9092
        |sasl.password = $KAFKA_PASSWORD
        |[producer]
        |batch.size = 2000000
        |linger.ms = 100
        |compression.type = lz4
        |[consumer]
        |fetch.min.bytes = 100000
        |""".stripMargin.linesIterator, env)
    assert(cfg.section("broker")("sasl.password") == "sekrit")
    val opts = cfg.kafkaOptions("producer")
    assert(opts("kafka.batch.size") == "2000000")
    assert(opts("kafka.bootstrap.servers") == "broker1:9092")
    assert(!opts.contains("kafka.fetch.min.bytes"))
    assertThrows[IllegalArgumentException](
      IniConfig.parse(Iterator("[s]", "x = $MISSING_VAR"), Map.empty))
  }

  test("x24 approx stats stay within sketch error bounds of exact answers") {
    // The query is now the audit itself (HLL within 5% of exact
    // countDistinct, GK values inside the exact [q-0.01, q+0.01] bracket);
    // assert every group's verdicts hold and the group set is complete.
    val dir = "/root/testdata/sf0.01"
    val rows = graft.queries.Relational.x24.run(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(rows.keySet == Set("A", "N", "R"))
    for ((k, (n, ndOk, p50Ok, p90Ok)) <- rows) {
      assert(n > 0, s"$k empty group")
      assert(ndOk, s"$k HLL estimate drifted past 5% of exact")
      assert(p50Ok, s"$k GK p50 outside exact percentile bracket")
      assert(p90Ok, s"$k GK p90 outside exact percentile bracket")
    }
  }
}
