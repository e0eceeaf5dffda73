package graft.queries

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A declared query: a Spark-first implementation plus (when SQL-expressible)
  * an equivalent ANSI SQL oracle runnable by DuckDB over the same parquet
  * tables. Column names/types must match between the two — the driver sorts
  * columns by name and hash-compares values.
  */
final case class DQ(name: String, oracle: Option[String])(
    val run: (SparkSession, String) => DataFrame)

object Core {
  /** Driver test tables (TESTDATA.md). One parquet file per table. */
  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      // The driver has shipped events.ts as parquet INT64 TIMESTAMP(NANOS)
      // (which Spark's vectorized reader rejects outright) and, after a
      // regeneration, as TIMESTAMP(MICROS) without UTC adjustment (which
      // Spark surfaces as TIMESTAMP_NTZ). Dispatch on the read schema so
      // either vintage yields the same session-TZ-UTC TIMESTAMP column.
      val raw = readParquet(spark, path) {
        try spark.read.parquet(path)
        catch {
          case e: Exception
              if e.getMessage != null && e.getMessage.contains("NANOS") =>
            // Only the nanos vintage needs the legacy conf (reads as LONG).
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.read.parquet(path)
        }
      }
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // Nanos as long → microsecond TIMESTAMP (integral division —
          // double math would lose precision above 2^53 ns).
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // Interpret the NTZ wall clock as UTC via pure wall-clock
          // arithmetic — unlike cast("timestamp") this is session-TZ
          // invariant, so a suite that forgot to pin UTC can't shift events.
          raw.withColumn("ts", expr(
            "timestamp_micros(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"))
        case _ => raw // already TIMESTAMP
      }
    } else readParquet(spark, path)(spark.read.parquet(path))
  }

  /** A table's inferred schema and the listing it was inferred from: each
    * entry's name, length and modification time. */
  private final case class Pin(listing: Seq[(String, Long, Long)], schema: StructType)

  /** Pins by session, then by qualified path. Weak keys: a stopped and
    * dropped session takes its pins with it. */
  private val pins = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Pin]]())

  /** Reads the parquet table at `path`. Its first read in a session runs
    * `infer`, which lets Spark infer the schema (a footer job per read);
    * later reads pass that schema to the reader and run no job, until the
    * file, or an entry of the directory, changes length, modification time
    * or name. Every read is a fresh relation with fresh attribute ids, so
    * two reads of one table still join as a self-join; a path that cannot
    * be listed goes to `infer` unpinned, which reports it as before. */
  private def readParquet(spark: SparkSession, path: String)(infer: => DataFrame): DataFrame = {
    val p = new Path(path)
    val listed = Try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val entries = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
      fs.makeQualified(p).toString ->
        entries.map(e => (e.getPath.getName, e.getLen, e.getModificationTime)).sorted
    }.toOption
    listed match {
      case None => infer
      case Some((key, listing)) =>
        val bySession = pins.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Pin]())
        Option(bySession.get(key)).filter(_.listing == listing) match {
          case Some(pin) => spark.read.schema(pin.schema).parquet(path)
          case None =>
            val df = infer
            bySession.put(key, Pin(listing, df.schema))
            df
        }
    }
  }

  /** `chunks` derived view (FIXTURES.md §3): deterministic 64-char chunking of
    * `documents` — the relational mirror of the reference's file chunker
    * (openmsistream data_file_io/entity/upload_data_file.py:230-304).
    * Spark-first: explode over `sequence(1, n_total)`; the generator runs
    * inside whole-stage codegen, no shuffle.
    */
  def chunks(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "documents")
      .withColumn("n_total", ceil(col("n_chars") / 64.0).cast("int"))
      .withColumn("chunk_i", explode(sequence(lit(1), greatest(col("n_total"), lit(1)))))
      .withColumn("chunk", col("text").substr((col("chunk_i") - 1) * 64 + 1, lit(64)))
      .select("doc_id", "chunk_i", "n_total", "chunk")
  }

  /** DuckDB CTE equivalent of [[chunks]] (scalar generate_series + unnest —
    * the table function form rejects non-constant bounds). */
  val chunksCte: String =
    """chunks AS (
      |  SELECT doc_id, CAST(chunk_i AS INT) AS chunk_i,
      |         CAST(ceil(n_chars/64.0) AS INT) AS n_total,
      |         substring(text, (CAST(chunk_i AS INT)-1)*64+1, 64) AS chunk
      |  FROM (SELECT doc_id, text, n_chars,
      |               unnest(generate_series(1, greatest(CAST(ceil(n_chars/64.0) AS BIGINT), 1))) AS chunk_i
      |        FROM documents) t
      |)""".stripMargin

  /** `chunks_dup`: chunks plus a stale duplicated generation for Q6/Q7
    * (generation 0 = the `doc_id % 7 = 0` slice with n_total-1). */
  def chunksDup(spark: SparkSession, dir: String): DataFrame = {
    val c = chunks(spark, dir)
    c.withColumn("generation", lit(1))
      .unionByName(
        c.filter(col("doc_id") % 7 === 0)
          .withColumn("n_total", col("n_total") - 1)
          .withColumn("generation", lit(0)))
  }

  val chunksDupCte: String =
    chunksCte + """,
      |chunks_dup AS (
      |  SELECT doc_id, chunk_i, n_total, chunk, 1 AS generation FROM chunks
      |  UNION ALL
      |  SELECT doc_id, chunk_i, n_total - 1, chunk, 0 AS generation
      |  FROM chunks WHERE doc_id % 7 = 0
      |)""".stripMargin

  /** Exact money arithmetic: route 2-decimal doubles through DECIMAL so sums
    * are order-independent and bit-identical across Spark and DuckDB, then
    * surface as double rounded to 6 dp. */
  def money(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(12,2)")
  def rate(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(4,2)")

  /** Cleaned lowercase word tokens — THE tokenization every text operator
    * shares (queries, sketches, and the streaming near-dup path all route
    * here so a tokenizer tweak can never silently diverge them). */
  def tokens(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.filter(
      org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.lower(c), "[^a-z]+"),
      x => x =!= "")

  /** Spread a compact input across all cores before a CPU-heavy per-row
    * stage (shingling, per-position hashing). A narrow parquet scan can
    * come up in 1–2 partitions (one ~40 MB file ≪ maxPartitionBytes) and a
    * fully per-row pipeline would then run on one core; the round-robin
    * shuffle of one-row-per-doc input is cheap, the parallelism is not.
    * On a real cluster defaultParallelism = total executor cores. */
  def spread(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Distinct char n-gram shingles of `t`, computed INSIDE the row
    * (`transform` + `array_distinct`). Equivalent to explode→DISTINCT when
    * each input row carries a unique doc_id — but with zero shuffle: the
    * downstream per-doc aggregation collapses map-side, so only one row per
    * document ever crosses the wire. At 100 TB the exploded-shingle
    * exchange is the dominant cost of the naive plan. */
  def charShingles(t: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    array_distinct(
      when(length(t) >= n,
        transform(sequence(lit(1), length(t) - (n - 1)), i => t.substr(i, lit(n))))
        .otherwise(array().cast("array<string>")))
  }

  /** Distinct word n-gram shingles of token array `l`, inside the row. */
  def wordNgrams(l: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    array_distinct(
      when(size(l) >= n,
        transform(sequence(lit(1), size(l) - (n - 1)),
          i => array_join(slice(l, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>")))
  }
}
