package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.app.AppSession
import graft.streaming.{AssemblyStream, CompletedFileWriter, Pipelines}

/** The S4/K1 broker contract, runnable the day a broker exists.
  *
  * This build container ships ZERO Kafka artifacts (`/opt/spark/jars` has no
  * spark-sql-kafka connector, coursier is offline), so `Pipelines.toKafka/
  * fromKafka` stay wiring-only here — every other spec exercises them via
  * the file-backed topic stand-in. This spec is the honest scaffold: it
  * CANCELS (not passes) unless both the connector class resolves and
  * `SPARK_GRAFT_KAFKA_BOOTSTRAP` names a broker, and when both hold it
  * asserts the reference's end-to-end byte-identity contract
  * (test_data_file_directories.py:208-213): upload a directory of random
  * files through the chunker to a topic, consume + reassemble from that
  * topic, and require every downloaded file byte-identical to its source.
  */
class KafkaE2eSpec extends AnyFunSuite with LocalSpark {

  private def connectorPresent: Boolean =
    try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
    catch { case _: ClassNotFoundException => false }

  test("upload -> topic -> download byte identity (cancels without connector+broker)") {
    assume(connectorPresent,
      "spark-sql-kafka connector not on classpath (container ships no Kafka jars)")
    val bootstrap = sys.env.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    assume(bootstrap.isDefined,
      "set SPARK_GRAFT_KAFKA_BOOTSTRAP=host:port to run the live-broker e2e")
    val servers = bootstrap.get
    val topic = s"graft_e2e_${System.nanoTime()}"

    // upload side: random files -> chunk -> wire -> topic
    val src = Files.createTempDirectory("graft_kafka_src")
    val out = Files.createTempDirectory("graft_kafka_out")
    val ckUp = Files.createTempDirectory("graft_kafka_ck_up").toString
    val rnd = new scala.util.Random(5)
    val files = (0 until 3).map { i =>
      val c = new Array[Byte](900 + rnd.nextInt(1200)); rnd.nextBytes(c)
      Files.write(src.resolve(s"f$i.bin"), c)
      (s"f$i.bin", c)
    }
    val up = Pipelines.toKafka(
      Pipelines.uploadDirectoryStream(spark, src.toString, chunkSize = 256),
      servers, topic, ckUp)
      .trigger(Trigger.AvailableNow()).start()
    up.awaitTermination()

    // download side: the apps' consume loop over the broker topic
    AppSession.consume(Pipelines.fromKafka(spark, servers, topic), out.toString,
        "_checkpoint_download") { good =>
      AssemblyStream.assemble(good, timeoutMs = 0)
        .writeStream
        .foreach(new CompletedFileWriter(out.toString))
        .outputMode("append")
    }

    files.foreach { case (name, c) =>
      val written = Files.readAllBytes(out.resolve(name))
      assert(written.toSeq == c.toSeq, s"$name differs after Kafka roundtrip")
    }
  }
}
