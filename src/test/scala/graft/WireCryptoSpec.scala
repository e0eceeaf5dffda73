package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.batch.ChunkPipeline
import graft.core.Chunker
import graft.streaming.WireCrypto

/** C4 encryption serde chain: pack → AES-GCM encrypt → try-decrypt with
  * dead-letter routing (reference CompoundSerDes serialization.py:16-160;
  * ENCRYPTED_MESSAGES dump data_file_download_directory.py:108-136), and
  * the S6 re-produce tool over the dumped key/value .bin pairs. */
class WireCryptoSpec extends AnyFunSuite with LocalSpark {

  private val keyA = "0123456789abcdef".getBytes("UTF-8") // 16-byte AES key
  private val keyB = "fedcba9876543210".getBytes("UTF-8")

  private def wireOf(tag: String, n: Int) = {
    import spark.implicits._
    val files = spark.createDataset((1 to n).map(i =>
      (s"$tag$i.bin", "sub", Array.fill[Byte](100 + i)(i.toByte), Option(1.5))))
    ChunkPipeline.encode(ChunkPipeline.chunkFiles(files, 64))
  }

  test("encrypt→decrypt roundtrips the wire exactly; nothing dead-letters") {
    import spark.implicits._
    val wire = wireOf("a", 3)
    val encrypted = WireCrypto.encryptValues(wire, keyA)
    // ciphertext really is opaque: unpack of the encrypted value must fail
    val rawDecode = ChunkPipeline.decodeOrDeadLetter(encrypted)
    assert(rawDecode.filter(_.error != null).count() == rawDecode.count())
    val (ok, dead) = WireCrypto.splitDecrypted(encrypted, keyA)
    assert(dead.count() == 0)
    val chunks = ChunkPipeline.decode(ok)
    val orig = ChunkPipeline.decode(wire)
    assert(chunks.collect().map(_.toChunk.msgKey).sorted
      .sameElements(orig.collect().map(_.toChunk.msgKey).sorted))
    // payload bytes survive the encrypt/decrypt hop
    assert(chunks.collect().map(c => c.data.toSeq).toSet ==
      orig.collect().map(c => c.data.toSeq).toSet)
  }

  test("wrong-key messages dead-letter instead of failing the task") {
    val mixed = WireCrypto.encryptValues(wireOf("a", 2), keyA)
      .unionByName(WireCrypto.encryptValues(wireOf("b", 3), keyB))
    val (ok, dead) = WireCrypto.splitDecrypted(mixed, keyA)
    assert(ok.count() == wireOf("a", 2).count())
    assert(dead.count() == wireOf("b", 3).count())
  }

  test("zero-byte and tiny payloads through the encrypted pipeline") {
    import spark.implicits._
    // reference semantics: an empty file yields ZERO chunks (n_chunks =
    // ceil(0/size) = 0, upload_data_file.py:230-304) so it never appears
    // downstream; a 1-byte file is one chunk and must survive
    // encrypt → decrypt → unpack → assemble byte-identically
    val files = spark.createDataset(Seq(
      ("empty.bin", "", Array.empty[Byte], Option(1.0)),
      ("one.bin", "", Array[Byte](42), Option(1.0))))
    val wire = ChunkPipeline.encode(ChunkPipeline.chunkFiles(files, 64))
    val (ok, dead) = WireCrypto.splitDecrypted(
      WireCrypto.encryptValues(wire, keyA), keyA)
    assert(dead.count() == 0)
    val assembled = ChunkPipeline.assemble(ChunkPipeline.decode(ok))
      .collect().map(f => f.filename -> f).toMap
    assert(!assembled.contains("empty.bin"), "empty file must emit no chunks")
    assert(assembled("one.bin").code == graft.core.Assembly.Code.Complete)
    assert(assembled("one.bin").data.toSeq == Seq(42.toByte))
  }

  test("malformed keys fail fast; an empty dump dir reproduces zero rows") {
    assertThrows[IllegalArgumentException](
      WireCrypto.encryptValues(wireOf("a", 1), "short".getBytes))
    assertThrows[IllegalArgumentException](
      WireCrypto.tryDecryptValues(wireOf("a", 1), null))
    val empty = Files.createTempDirectory("graft_empty_dump").toString
    assert(WireCrypto.reproduceUndecryptable(spark, empty).count() == 0)
    assert(WireCrypto.reproduceUndecryptable(spark, empty + "/missing").count() == 0)
  }

  test("dump + reproduce: dead letters roundtrip through .bin pairs in mtime order") {
    import spark.implicits._
    val dump = Files.createTempDirectory("graft_undecryptable").toString
    val dead = WireCrypto.encryptValues(wireOf("b", 3), keyB)
    val rows = dead.selectExpr("CAST(key AS STRING) AS key", "value").collect()
    val w = new WireCrypto.UndecryptableDumpWriter(dump)
    w.open(0L, 0L)
    rows.foreach(w.process)
    // at-least-once replay: processing the same rows again must not duplicate
    rows.foreach(w.process)
    w.close(null)

    val replayed = WireCrypto.reproduceUndecryptable(spark, dump)
    val got = replayed.select("key", "value").as[(String, Array[Byte])].collect()
    assert(got.length == rows.length)
    val wantByKey = rows.map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    got.foreach { case (k, v) => assert(wantByKey(k) == v.toSeq) }
    // and the recovered values decrypt under the right key
    val (ok2, dead2) = WireCrypto.splitDecrypted(
      replayed.select("key", "value"), keyB)
    assert(ok2.count() == rows.length && dead2.count() == 0)
  }

  test("dump naming folds the key in: same ciphertext, different keys, two pairs") {
    val dump = Files.createTempDirectory("graft_dump_keys").toString
    val value = Array[Byte](9, 9, 9)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("key STRING, value BINARY")
    val w = new WireCrypto.UndecryptableDumpWriter(dump)
    w.open(0L, 0L)
    Seq("ka", "kb").foreach { k =>
      w.process(new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](k, value), schema))
    }
    w.close(null)
    val names = new java.io.File(dump).list().toSeq
    assert(names.count(_.endsWith(".key.bin")) == 2,
      s"distinct keys with identical ciphertext must keep distinct pairs: $names")
  }
}
