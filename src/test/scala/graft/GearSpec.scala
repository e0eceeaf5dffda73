package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GearBoundaries, GearFunctions}

/** Gear rolling-hash CDC boundaries: expression == brute-force reference,
  * the content-locality property that justifies CDC (the masked hash is a
  * function of the trailing maskBits characters only, so a prefix edit
  * never moves boundaries more than maskBits past it), and codegen.
  */
class GearSpec extends AnyFunSuite with LocalSpark {

  // no interpreted fallback: generated code that fails to compile fails the test
  override def withFixture(test: NoArgTest) =
    LocalSpark.withConf("spark.sql.codegen.fallback" -> "false")(super.withFixture(test))

  private val maskBits = 6

  /** Straight-line reference: full 64-bit rolling hash, masked. */
  private def ref(s: String, mb: Int = maskBits): Seq[Int] = {
    val mask = (1L << mb) - 1
    var h = 0L
    (1 to s.length).flatMap { i =>
      h = (h << 1) + GearBoundaries.gear(s.charAt(i - 1))
      if ((h & mask) == 0L) Some(i) else None
    }
  }

  private def randText(rnd: scala.util.Random, max: Int): String =
    (1 to rnd.nextInt(max + 1)).map(_ => ('a' + rnd.nextInt(27)).toChar match {
      case c if c > 'z' => ' '
      case c => c
    }).mkString

  test("expression matches the brute-force reference (incl. empty / 1-char)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val texts = Seq("", "a", " ", "abcdefgh") ++ (1 to 80).map(_ => randText(rnd, 300))
    val got = texts.toDF("text")
      .select(GearFunctions.gearBoundaries(col("text"), maskBits).as("b"))
      .collect().toSeq.map(_.getSeq[Int](0))
    for ((t, b) <- texts.zip(got)) assert(b == ref(t), s"text='$t'")
  }

  test("content locality: a prefix edit shifts, never rewrites, far boundaries") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 300) {
      val p = randText(rnd, 80)
      val s = randText(rnd, 200)
      // boundaries of s with ≥ maskBits context are preserved under any
      // prefix, shifted by its length
      val standalone = ref(s).filter(_ > maskBits).map(_ + p.length).toSet
      val prefixed = ref(p + s).filter(_ > p.length + maskBits).toSet
      assert(prefixed == standalone, s"p='$p' s='$s'")
    }
  }

  test("SQL surface + codegen: gear_boundaries compiles in WholeStageCodegen") {
    graft.functions.ChunkFunctions.register(spark)
    val out = spark.sql(
      "SELECT gear_boundaries('the quick brown fox jumps over the lazy dog', 6) AS b")
    assert(out.collect()(0).getSeq[Int](0) ==
      ref("the quick brown fox jumps over the lazy dog"))
  }
}
