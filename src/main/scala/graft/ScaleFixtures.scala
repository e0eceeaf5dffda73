package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-study fixture generator: writes an N× version of a driver test
  * directory (`ScaleFixtures <srcDir> <outDir> <copies>`), used by the
  * SCALE.md scaling-exponent study — a perf artifact, not a correctness
  * gate (the DuckDB oracles only run on the driver's own directories).
  *
  * Realism over raw duplication: naive row duplication would make every
  * copy an exact/near duplicate of its original, loading every MinHash
  * band bucket, centroid cell and dedup cluster ×N and turning any
  * pair-space operator quadratic BY DATA, which would measure the fixture,
  * not the engine. Instead each copy is decorrelated:
  *
  *  - documents: per-copy letter-permutation `translate` (rot × reverse ×
  *    half-swap = 104 distinct permutations, one per copy) — token streams
  *    across copies share no shingles, while per-document length/shape
  *    stats are preserved exactly; ids shift by copy·10^9.
  *  - embeddings: per-copy cyclic rotation of the float vector — norms and
  *    pairwise geometry within a copy are preserved, cross-copy cosine
  *    decorrelates; ids shift (copy 0 keeps the originals, so queries
  *    seeded on low vec_ids keep their seeds).
  *  - events/lineitem/orders/customer: key shifts (user/order/customer
  *    spaces grow ×N, per-key densities stay constant — how real corpora
  *    grow); value columns untouched.
  *  - region/nation/supplier/part: copied as-is (dims stay broadcastable;
  *    a 100 TB corpus does not grow 100× more regions).
  */
object ScaleFixtures {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    require(copies >= 1 && copies <= 104, "copies in [1, 104]")
    val spark = graft.app.AppSession.make("graft-scale-fixtures")
    new java.io.File(outDir).mkdirs()

    val lower = "abcdefghijklmnopqrstuvwxyz"
    def perm(c: Int): String = {
      var s = lower.drop(c % 26) + lower.take(c % 26) // rot
      if ((c / 26) % 2 == 1) s = s.reverse
      if ((c / 52) % 2 == 1) s = s.drop(13) + s.take(13) // half swap
      s
    }

    def write(name: String, df: DataFrame): Unit = {
      // a handful of output files so downstream scans parallelize without
      // depending on spread(); 32 is a fine default for the study's data
      // sizes
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[scale-fixtures] wrote $name x$copies")
    }

    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")

    // documents + embeddings: per-copy literal transforms → union of
    // per-copy branches (translate/slice need foldable arguments)
    val docs = src("documents")
    write("documents", (0 until copies).map { c =>
      val p = perm(c)
      val t = translate(col("text"), lower + lower.toUpperCase,
        p + p.toUpperCase)
      docs.select(
        (col("doc_id") + lit(c.toLong * 1000000000L)).as("doc_id"),
        t.as("text"),
        col("lang"), col("source"),
        length(t).cast("long").as("n_chars"))
    }.reduce(_ union _))

    val emb = src("embeddings")
    val dim = emb.selectExpr("max(size(embedding))").first().getInt(0)
    write("embeddings", (0 until copies).map { c =>
      val r = c % dim
      val rotated =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dim - r),
          slice(col("embedding"), 1, r))
      emb.select(
        (col("vec_id") + lit(c.toLong * 1000000000L)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }.reduce(_ union _))

    // key-shift tables: one explode over the copy sequence
    val copyCol = explode(sequence(lit(0L), lit(copies.toLong - 1L))).as("_copy")

    // events routes through Core.table: the driver has shipped its ts
    // column as NANOS and as MICROS-NTZ across regenerations, and the
    // dispatch there normalizes either to a UTC TIMESTAMP
    write("events", graft.queries.Core.table(spark, srcDir, "events")
      .select(col("*"), copyCol)
      .select(
        (col("event_id") + col("_copy") * 1000000000L).as("event_id"),
        col("ts"),
        (col("user_id") + col("_copy") * 100000000L).as("user_id"),
        col("event_type"), col("value"), col("props")))

    write("orders", src("orders").select(col("*"), copyCol)
      .select(
        (col("o_orderkey") + col("_copy") * 1000000000L).as("o_orderkey"),
        (col("o_custkey") + col("_copy") * 100000000L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")))

    write("lineitem", src("lineitem").select(col("*"), copyCol)
      .select(
        (col("l_orderkey") + col("_copy") * 1000000000L).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate")))

    write("customer", src("customer").select(col("*"), copyCol)
      .select(
        (col("c_custkey") + col("_copy") * 100000000L).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment")))

    // dims: unchanged (broadcast-sized at every scale)
    for (name <- Seq("region", "nation", "supplier", "part"))
      src(name).write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    spark.stop()
  }
}
