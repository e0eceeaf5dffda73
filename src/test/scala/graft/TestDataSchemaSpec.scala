package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Core

/** Canary for driver-side testdata regeneration: loads every driver table at
  * sf0.001 through [[Core.table]] and pins the SURFACED schema. When the
  * driver next changes a parquet physical type (as it did for events.ts:
  * INT64 nanos → TIMESTAMP(MICROS)/NTZ between rounds 3 and 4, crashing 22
  * queries), this one spec fails with the offending column named instead of
  * 22 opaque query errors.
  */
class TestDataSchemaSpec extends AnyFunSuite with LocalSpark {

  val dir = "/root/testdata/sf0.001"

  def col(table: String, name: String): DataType =
    Core.table(spark, dir, table).schema(name).dataType

  test("every driver table loads and surfaces its key columns") {
    val expected: Map[String, Map[String, DataType]] = Map(
      "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Map("c_custkey" -> LongType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      "supplier" -> Map("s_suppkey" -> LongType, "s_nationkey" -> IntegerType,
        "s_acctbal" -> DoubleType),
      "part" -> Map("p_partkey" -> LongType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType),
      "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType,
        "o_orderstatus" -> StringType),
      "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_shipdate" -> TimestampNTZType),
      "events" -> Map("event_id" -> LongType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Map("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = true),
        "label" -> IntegerType)
    )
    for ((t, cols) <- expected; (c, dt) <- cols) {
      val actual = col(t, c)
      assert(actual == dt,
        s"driver table '$t' column '$c' surfaced as $actual, expected $dt — " +
          "testdata regenerated with a new physical type?")
    }
  }

  test("events.ts surfaces as TIMESTAMP whatever the parquet vintage") {
    // Core.table must normalize all three vintages the driver has shipped
    // (INT64 nanos, TIMESTAMP(MICROS) as NTZ, adjusted-to-UTC TIMESTAMP)
    // to a plain TimestampType column with UTC wall-clock semantics.
    assert(col("events", "ts") == TimestampType,
      "events.ts must surface as TIMESTAMP — Core.table dispatch is stale " +
        "for the current testdata vintage")
    val first = Core.table(spark, dir, "events")
      .orderBy("ts").select("ts").limit(1)
      .collect()(0).getTimestamp(0)
    // Driver generates events from 2024-01-01 UTC onward at every vintage.
    assert(first.toInstant.isAfter(java.time.Instant.parse("2023-12-31T23:59:59Z")),
      s"first events.ts = $first — wall-clock interpretation drifted")
    assert(first.toInstant.isBefore(java.time.Instant.parse("2024-01-02T00:00:00Z")),
      s"first events.ts = $first — wall-clock interpretation drifted")
  }

  test("documents.text stays [a-z ] — PDF fixture builders rely on it") {
    // x228's font-encoding fixtures map text chars through a fixed CMap
    // alphabet and CP1252; a regeneration that introduces digits,
    // uppercase, or punctuation must fail HERE with a clear message, not
    // as an IllegalArgumentException inside a gated query's task
    import org.apache.spark.sql.functions.{expr, length => len, regexp_replace}
    val offenders = Core.table(spark, dir, "documents")
      .where(len(regexp_replace(expr("text"), "[a-z ]", "")) > 0)
      .count()
    assert(offenders == 0,
      s"$offenders documents carry chars outside [a-z ] — the x228 " +
        "fixture alphabet contract broke; extend buildPdfWithEncodedText's " +
        "code map AND its oracle together")
  }
}
