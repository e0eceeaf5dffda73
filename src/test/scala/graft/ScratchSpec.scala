package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Dataflow, Scratch}

/** Registry queries write their directories only under the one scratch
  * root ([[Scratch]]), the cleanup its shutdown hook runs leaves nothing
  * behind, and a fixture builds once per (name, test-data directory). */
class ScratchSpec extends AnyFunSuite with LocalSpark {

  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  private def tmpEntries(): Set[String] =
    Files.list(Paths.get(sys.props("java.io.tmpdir"))).iterator().asScala
      .map(_.getFileName.toString).toSet

  test("registry queries write only under the scratch root, and its cleanup removes it") {
    // Spark's first jobs unpack native codec libraries into java.io.tmpdir;
    // one shuffle and parquet write first, so the listing sees only the
    // queries' files
    val warm = Files.createTempDirectory("scratch_spec_warmup")
    try spark.range(100).repartition(2).write.mode("overwrite").parquet(warm.toString)
    finally Harness.rmTree(warm)
    val before = tmpEntries()
    for (q <- Seq("x235_index_bm25_served", "x239_ivf_retrain_served",
        "x251_wikidump_ranged", "x261_wikidump_sink_roundtrip",
        "x264_warczst_sink_roundtrip", "x265_warczst_dict_roundtrip",
        "x269_sedump_ranged_relational"))
      assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, q)
    val root = Scratch.root
    assert(tmpEntries() -- before == Set(root.getFileName.toString) -- before)
    Scratch.cleanup()
    assert(!Files.exists(root))
    assert(tmpEntries() -- before == Set())
  }

  test("a fixture builds once per name and test-data directory; a failed build is retried") {
    val builds = new AtomicInteger
    def build(d: String): Unit = {
      builds.incrementAndGet()
      Files.write(Paths.get(d, "f"), Array[Byte](1))
    }
    val a = Scratch.fixture("spec_fixture", "sfA")(build)
    assert(Scratch.fixture("spec_fixture", "sfA")(build) == a)
    assert(Files.exists(Paths.get(a, "f")) && builds.get == 1)
    assert(Scratch.fixture("spec_fixture", "sfB")(build) != a && builds.get == 2)
    val failing = new AtomicInteger
    intercept[IllegalStateException](Scratch.fixture("spec_flaky", "sfA") { _ =>
      if (failing.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
    })
    Scratch.fixture("spec_flaky", "sfA")(_ => failing.incrementAndGet())
    assert(failing.get == 2)
  }

  test("every fixture setup names one registry query") {
    val keys = Dataflow.fixtureSetups.map(_._1)
    assert(keys.distinct == keys)
    assert(keys.toSet -- SparkEntry.registry.map(_.name) == Set())
  }
}
