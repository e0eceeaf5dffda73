package graft

import org.apache.spark.sql.{DataFrame, GraftColumnShim, Row}
import org.apache.spark.sql.catalyst.expressions._
import org.scalatest.funsuite.AnyFunSuite

/** Division-semantics audit over EVERY declared query.
  *
  * The class of bug this closes (found as x217 in round 8): Spark's `div`
  * TRUNCATES toward zero while the driver's DuckDB floors `//` — and
  * DuckDB 1.0.0 (the local compare harness) truncates, so a negative
  * dividend produces a divergence only the DRIVER's gate can see. The two
  * semantics agree exactly when every (dividend, divisor) pair evaluated
  * has `a % b == 0 || sign(a) == sign(b)` — in this repo's queries, the
  * rule is "keep dividends non-negative or sign-split" (x196).
  *
  * Rather than grepping for risky-looking dividends, this spec PROVES the
  * property on real data: for each declared query whose analyzed plan
  * contains an `IntegralDivide`, it re-executes the query with every
  * IntegralDivide rewritten to floor semantics
  * (`q - (r != 0 && sign(r) != sign(b) ? 1 : 0)`) and requires the output
  * to be IDENTICAL to the declared run at sf0.001. Any query whose result
  * depends on truncate-vs-floor — i.e. any query the driver's DuckDB
  * would hash-fail on division semantics — fails here, locally.
  *
  * Spark `%` (Remainder) needs no shadow run: DuckDB `%` truncates like
  * Spark/C on negative dividends (verified in tools/compare.py's engine),
  * so only `//` differs between the engines.
  */
class DivAuditSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  /** Floor-division rewrite of a truncating IntegralDivide:
    * floor(a/b) = trunc(a/b) − 1 when the remainder is nonzero and the
    * operand signs differ, else trunc(a/b). Exact integer arithmetic —
    * no double round-trip, so 64-bit dividends stay exact. */
  private def floored(d: IntegralDivide): Expression = {
    val a = d.left
    val b = d.right
    val r = new Remainder(a, b)
    val zeroR = Literal.default(r.dataType)
    val zeroB = Literal.default(b.dataType)
    val signsDiffer =
      Not(EqualTo(LessThan(r, zeroR), LessThan(b, zeroB)))
    val cond = And(Not(EqualTo(r, zeroR)), signsDiffer)
    CaseWhen(Seq((cond, Subtract(d, Literal(1L)))), Some(d))
  }

  private def withFlooredDivs(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed.transformUp {
      case p =>
        p.transformExpressionsUp { case d: IntegralDivide => floored(d) }
    }
    GraftColumnShim.ofRows(spark, plan)
  }

  private def hasIntegralDivide(df: DataFrame): Boolean = {
    var found = false
    df.queryExecution.analyzed.foreach { p =>
      p.expressions.foreach(_.foreach {
        case _: IntegralDivide => found = true
        case _ => ()
      })
    }
    found
  }

  /** Canonical, float-tolerant row rendering: double/float values round to
    * 9 significant digits so partition-order float-sum jitter between the
    * two runs cannot false-positive; everything else renders exactly. */
  private def canon(rows: Array[Row]): Seq[String] =
    rows.map { r =>
      (0 until r.length).map { i =>
        r.get(i) match {
          case null => "∅"
          case d: Double => f"$d%.9e"
          case f: Float => f"${f.toDouble}%.9e"
          case x => x.toString
        }
      }.mkString("|")
    }.sorted.toIndexedSeq

  test("every declared query is invariant to truncate-vs-floor div semantics") {
    val offenders = scala.collection.mutable.ListBuffer[String]()
    var audited = 0
    for (dq <- SparkEntry.registry) {
      val df = dq.run(spark, sf)
      if (hasIntegralDivide(df)) {
        audited += 1
        val declared = canon(df.collect())
        val shadow = canon(withFlooredDivs(df).collect())
        if (declared != shadow) {
          val firstDiff = declared.zip(shadow)
            .collectFirst { case (a, b) if a != b => s"declared=$a floored=$b" }
            .orElse(Some(s"row counts ${declared.size} vs ${shadow.size}"))
          offenders += s"${dq.name}: ${firstDiff.get}"
        }
      }
    }
    info(s"audited $audited div-bearing queries of ${SparkEntry.registry.size}")
    assert(audited > 0, "expected at least one query with IntegralDivide")
    assert(offenders.isEmpty,
      s"div-semantics-sensitive queries (driver DuckDB floors //, Spark div truncates):\n  ${offenders.mkString("\n  ")}")
  }

  /** Floored-modulo rewrite of a truncating Remainder: r + b when the
    * remainder is nonzero and its sign differs from the divisor's. */
  private def flooredMod(d: Remainder): Expression = {
    val b = d.right
    val zeroR = Literal.default(d.dataType)
    val zeroB = Literal.default(b.dataType)
    val cond = And(Not(EqualTo(d, zeroR)),
      Not(EqualTo(LessThan(d, zeroR), LessThan(b, zeroB))))
    CaseWhen(Seq((cond, Add(d, b))), Some(d))
  }

  private def withFlooredMods(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed.transformUp {
      case p => p.transformExpressionsUp { case d: Remainder => flooredMod(d) }
    }
    GraftColumnShim.ofRows(spark, plan)
  }

  private def hasRemainder(df: DataFrame): Boolean = {
    var found = false
    df.queryExecution.analyzed.foreach { p =>
      p.expressions.foreach(_.foreach {
        case _: Remainder => found = true
        case _ => ()
      })
    }
    found
  }

  test("every declared query is invariant to truncate-vs-floor % semantics") {
    // Spark % and DuckDB % both truncate today, but the round-8 x217 bug
    // showed engine-version semantics can drift under the gate; this pins
    // every query as INVARIANT to the choice, so a future DuckDB that
    // floors % (as it did for //) cannot produce a hash divergence.
    val offenders = scala.collection.mutable.ListBuffer[String]()
    var audited = 0
    for (dq <- SparkEntry.registry) {
      val df = dq.run(spark, sf)
      if (hasRemainder(df)) {
        audited += 1
        val declared = canon(df.collect())
        val shadow = canon(withFlooredMods(df).collect())
        if (declared != shadow) {
          val firstDiff = declared.zip(shadow)
            .collectFirst { case (a, b) if a != b => s"declared=$a floored=$b" }
            .orElse(Some(s"row counts ${declared.size} vs ${shadow.size}"))
          offenders += s"${dq.name}: ${firstDiff.get}"
        }
      }
    }
    info(s"audited $audited %-bearing queries of ${SparkEntry.registry.size}")
    assert(audited > 0, "expected at least one query with Remainder")
    assert(offenders.isEmpty,
      s"%-semantics-sensitive queries (would diverge if the oracle engine floors %):\n  ${offenders.mkString("\n  ")}")
  }

  test("the auditor detects the pre-fix x217 form (negative dividend div)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the round-8 bug: bucket = least(greatest(logit div 2000, -2), 7) on a
    // frequently-negative logit. The floored shadow MUST differ here —
    // otherwise this suite has no teeth.
    val probe = spark.range(-9000, 9000, 137).toDF("logit_e3")
      .withColumn("bucket", expr("least(greatest(logit_e3 div 2000, -2L), 7L)"))
    val declared = canon(probe.collect())
    val shadow = canon(withFlooredDivs(probe).collect())
    assert(declared != shadow,
      "floor rewrite failed to change the known-bad form — auditor is blind")
    // and the round-9 fix is semantics-invariant: shifted dividend ≥ 0
    val fixed = spark.range(-9000, 9000, 137).toDF("logit_e3")
      .withColumn("bucket",
        expr("least(greatest((logit_e3 + 18000L) div 2000 - 9, -2L), 7L)"))
    assert(canon(fixed.collect()) == canon(withFlooredDivs(fixed).collect()))
    // the two forms agree with each other under FLOOR semantics (what the
    // driver's DuckDB computes): same buckets, now engine-invariant
    val both = spark.range(-9000, 9000, 137).toDF("logit_e3")
      .withColumn("old_floor",
        expr("least(greatest(CAST(floor(logit_e3 / 2000.0) AS BIGINT), -2L), 7L)"))
      .withColumn("new_bucket",
        expr("least(greatest((logit_e3 + 18000L) div 2000 - 9, -2L), 7L)"))
      .where($"old_floor" =!= $"new_bucket")
    assert(both.count() == 0, "fixed bucket must equal the floored old bucket")
  }
}
