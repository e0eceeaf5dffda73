package graft

import scala.util.Try

import org.apache.spark.sql.{AnalysisException, GraftColumnShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.types.BinaryType
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BinaryCodecExpression, ChunkFunctions, GraftExtensions, PdfRevisions}

/** The SparkSessionExtensions install path: a session built with
  * GraftExtensions resolves pack_chunk/unpack_chunk in SQL with no explicit
  * registration call. The session is private to the test: extensions apply
  * only when a session is built, and none may reach another spec. The
  * function table is installed whole by both paths, and every binary codec
  * keeps the contract its base class promises. */
class ExtensionsSpec extends AnyFunSuite {

  /** SQL arguments for the table's functions that take something other
    * than one binary payload. */
  private val otherArgs = Map(
    "pack_chunk" -> "struct('f', X'00', X'00', 0L, 0, 1, '', '', X'00', 0D)",
    "chunk_binary" -> "X'00', 4",
    "vec_dot" -> "array(CAST(1 AS FLOAT)), array(CAST(1 AS FLOAT))",
    "vec_norm" -> "array(CAST(1 AS FLOAT))",
    "gear_boundaries" -> "'text', 4",
    "pcm_frames" -> "X'00', 4",
    "zstd_bytes_dict" -> "X'00', X'00'",
    "wikitext_plain" -> "'text'",
    "bloom_bits" -> "array(CAST(0 AS BIGINT)), 64")

  /** The table's names that `spark` cannot resolve in SQL to an expression
    * of the table's class. */
  private def unresolved(spark: SparkSession): Seq[String] =
    ChunkFunctions.table.filterNot { f =>
      val args = otherArgs.getOrElse(f.name, "CAST(NULL AS BINARY)")
      Try(spark.sql(s"SELECT ${f.name}($args)").queryExecution.analyzed).toOption
        .exists(_.collect { case node => node.expressions }.flatten
          .exists(_.exists(f.cls.isInstance)))
    }.map(_.name)

  test("register and withExtensions install the same function table") {
    assert(ChunkFunctions.table.map(_.name).distinct.length == 54)
    // a fresh session of the shared context: no extension, no earlier
    // registration
    val registered = LocalSpark.session.newSession()
    assert(unresolved(registered).nonEmpty)
    ChunkFunctions.register(registered)
    assert(unresolved(registered).isEmpty)
    LocalSpark.isolated(SparkSession.builder()
        .withExtensions(new GraftExtensions).getOrCreate()) { extended =>
      assert(unresolved(extended).isEmpty)
    }
  }

  test("every binary codec: null in null out, binary only, same answer with or without codegen") {
    val payload = BoundReference(0, BinaryType, nullable = true)
    val codecs = ChunkFunctions.table
      .filter(f => classOf[BinaryCodecExpression].isAssignableFrom(f.cls))
      .map(f => f.name -> f.build) :+
      ("pdf_revisions" -> ((es: Seq[Expression]) => PdfRevisions(es.head)))
    assert(codecs.length == 45)
    val garbage = Array.tabulate[Byte](16)(i => (i * 73 + 41).toByte)
    def run(mode: String, e: Expression, in: Array[Byte]): Try[InternalRow] =
      LocalSpark.withConf("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.fallback" -> "false") {
        Try(UnsafeProjection.create(Seq(e)).apply(InternalRow(in)).copy())
      }
    codecs.foreach { case (name, build) =>
      val e = build(Seq(payload))
      assert(e.prettyName == name && e.nullable, name)
      // tasks carry expressions through Java serialization
      val bytes = new java.io.ByteArrayOutputStream
      new java.io.ObjectOutputStream(bytes).writeObject(e)
      assert(new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject() == e, s"$name: Java serialization round trip")
      Seq("NO_CODEGEN", "CODEGEN_ONLY").foreach { mode =>
        assert(run(mode, e, null).get.isNullAt(0), s"$name($mode): null payload")
      }
      val bad = intercept[AnalysisException](LocalSpark.session.range(1)
        .select(GraftColumnShim.column(build(Seq(Literal(1))))).queryExecution.assertAnalyzed())
      assert(bad.getMessage.contains(s"$name expects binary, got IntegerType"), bad.getMessage)
      (run("NO_CODEGEN", e, garbage), run("CODEGEN_ONLY", e, garbage)) match {
        case (interpreted, generated) if interpreted.isSuccess && generated.isSuccess =>
          assert(interpreted.get == generated.get, s"$name: interpreted vs generated")
        case (interpreted, generated) =>
          assert(interpreted.isFailure && generated.isFailure,
            s"$name threw in one mode only: $interpreted vs $generated")
      }
    }
  }

  test("withExtensions installs codec functions for SQL") {
    LocalSpark.isolated(SparkSession.builder()
        // Fail loudly (no interpreted fallback) if the codec expressions'
        // doGenCode emits Java that janino can't compile.
        .config("spark.sql.codegen.fallback", "false")
        // Run the codec calls in tasks: left on, ConvertToLocalRelation
        // folds them over the local inputs on the driver, interpreted.
        .config("spark.sql.optimizer.excludedRules",
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
        .withExtensions(new GraftExtensions)
        .getOrCreate()) { spark =>
      import spark.implicits._
      val data = "extensions payload".getBytes
      val chunk = graft.core.Chunker.chunk("e.bin", "", data, 16, Nil, Some(7.0))
        .map(graft.batch.ChunkRow(_))
      spark.createDataset(chunk).createOrReplaceTempView("ext_chunks")
      val n = spark.sql(
        """SELECT count(*) AS n FROM ext_chunks
          |WHERE unpack_chunk(pack_chunk(struct(
          |  filename, file_hash, chunk_hash, chunk_offset_write, chunk_i,
          |  n_total_chunks, subdir_str, filename_append, data, file_mtime))).chunk_i = chunk_i
          |""".stripMargin).as[Long].head()
      assert(n == chunk.length)
      // Native vector math (same session, still with codegen fallback off):
      // exact doubles vs the HOF formulation they replaced.
      val (d, nrm, hofD) = spark.sql(
        """SELECT vec_dot(a, b), vec_norm(a),
          |       aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          |                 CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
          |FROM VALUES (array(CAST(1.5 AS FLOAT), CAST(-2.0 AS FLOAT), CAST(0.25 AS FLOAT)),
          |             array(CAST(4.0 AS FLOAT), CAST(0.5 AS FLOAT), CAST(8.0 AS FLOAT))) t(a, b)
          |""".stripMargin).as[(Double, Double, Double)].head()
      assert(d == hofD && d == 1.5 * 4.0 + -2.0 * 0.5 + 0.25 * 8.0)
      assert(nrm == math.sqrt(1.5 * 1.5 + 2.0 * 2.0 + 0.25 * 0.25))
      // round-8 surface, same no-fallback session: EBML walk, block slice
      // and ID3 tags resolve in SQL and their doGenCode compiles
      val webm = graft.functions.Mkv.buildMkvBlocks("webm", 1000000L, 80L,
        Seq(graft.functions.Mkv.MkvTrackSpec(1, "video", "V_VP9",
          width = 640, height = 360)),
        Seq(graft.functions.Mkv.MkvClusterSpec(0L,
          Seq((1, 40, "frame!".getBytes)))))
      val tagged = graft.functions.Id3.buildV2(4, 3, "T", "A", "B", "2001") ++
        graft.functions.AudioHeaders.buildMp3(9, 0, 2)
      spark.createDataset(Seq((webm, tagged))).toDF("w", "m")
        .createOrReplaceTempView("ext_media")
      val (codec, w, ts, frame, title) = spark.sql(
        """SELECT mkv_tracks(w)[0].codec, mkv_tracks(w)[0].width,
          |       mkv_blocks(w)[0].ts_ticks,
          |       CAST(substring(w, CAST(mkv_blocks(w)[0].offset AS INT) + 1,
          |                      mkv_blocks(w)[0].size) AS STRING),
          |       id3_tags(m).title
          |FROM ext_media""".stripMargin)
        .as[(String, Int, Long, String, String)].head()
      assert(codec == "V_VP9" && w == 640 && ts == 40L &&
        frame == "frame!" && title == "T")
      // round-8 session-3 surface: CDX index + bloom aggregate in SQL,
      // same no-fallback session — the index extent slices and re-parses,
      // and the bloom bitset answers membership with pure builtins
      val warc = graft.functions.Warc.buildGz(Seq(
        ("response", "http://e.example/1", "2024-01-01T00:00:00Z",
          "sql body".getBytes)))
      spark.createDataset(Seq(Tuple1(warc))).toDF("a")
        .createOrReplaceTempView("ext_warc")
      val (uri, one, dig) = spark.sql(
        """SELECT warc_index(a)[0].uri,
          |       size(warc_records(substring(a,
          |         CAST(warc_index(a)[0].offset AS INT) + 1,
          |         CAST(warc_index(a)[0].length AS INT)))),
          |       warc_index(a)[0].payload_md5 = md5(warc_records(a)[0].payload)
          |FROM ext_warc""".stripMargin)
        .as[(String, Int, Boolean)].head()
      assert(uri == "http://e.example/1" && one == 1 && dig)
      val (w0, w1) = spark.sql(
        """SELECT bits[0], bits[1] FROM (
          |  SELECT bloom_bits(hs, 128) AS bits
          |  FROM VALUES (array(CAST(0 AS BIGINT), CAST(65 AS BIGINT))),
          |              (array(CAST(63 AS BIGINT))) t(hs))""".stripMargin)
        .as[(Long, Long)].head()
      assert(w0 == ((1L << 0) | (1L << 63)) && w1 == 2L)
      // round-8 session-6 surface: PDF structure walk in SQL, same
      // no-fallback session — version, xref /Size, and Pages /Count, plus
      // the null route for a tail-truncated (unopenable) file
      val pdf = graft.functions.Pdfs.buildPdf(4, 8)
      spark.createDataset(Seq((pdf, pdf.dropRight(30)))).toDF("p", "cut")
        .createOrReplaceTempView("ext_pdf")
      val (pv, pn, pp, cutNull) = spark.sql(
        """SELECT pdf_meta(p).version, pdf_meta(p).n_objects,
          |       pdf_meta(p).n_pages, pdf_meta(cut) IS NULL
          |FROM ext_pdf""".stripMargin)
        .as[(String, Int, Int, Boolean)].head()
      assert(pv == "1.7" && pn == 7 && pp == 4 && cutNull)
      // round-9 surface: pdf_text under the same no-fallback session —
      // escape decoding (parens, backslash, octal newline), TJ kern word
      // spaces, TD line ordering, and the FlateDecode path; plus the null
      // route for the truncated file
      val tricky = "line (one) with \\ and\nbreak"
      val pdfT = graft.functions.Pdfs.buildPdfWithText(
        Seq(tricky, "page two body"), flate = false)
      val pdfZ = graft.functions.Pdfs.buildPdfWithText(
        Seq(tricky), flate = true)
      spark.createDataset(Seq((pdfT, pdfZ, pdfT.dropRight(30))))
        .toDF("t", "z", "cut").createOrReplaceTempView("ext_pdftext")
      val (t1, t2, z1, cutTNull) = spark.sql(
        """SELECT pdf_text(t)[0], pdf_text(t)[1], pdf_text(z)[0],
          |       pdf_text(cut) IS NULL
          |FROM ext_pdftext""".stripMargin)
        .as[(String, String, String, Boolean)].head()
      assert(t1 == "p1 of 2\n" + tricky && cutTNull)
      assert(t2 == "p2 of 2\npage two body")
      assert(z1 == "p1 of 1\n" + tricky)
      // round-9 surface: flac_decode → WAV → pcm_stats chain in SQL under
      // the same no-fallback session, plus the CRC null route
      val pcm = Array.tabulate(300)(i => ((i * 37 + 11) % 1601 - 800) * 20)
      val flac = graft.functions.FlacCodec.encode(1, 8000, 16, Array(pcm), 128)
      val bad = flac.clone(); bad(flac.length - 9) = (bad(flac.length - 9) ^ 1).toByte
      spark.createDataset(Seq((flac, bad))).toDF("f", "bad")
        .createOrReplaceTempView("ext_flac")
      val (fn, fsum, badNull) = spark.sql(
        """SELECT pcm_stats(flac_decode(f)).n_samples,
          |       pcm_stats(flac_decode(f)).sum_sq,
          |       flac_decode(bad) IS NULL
          |FROM ext_flac""".stripMargin)
        .as[(Long, Long, Boolean)].head()
      assert(fn == 300 && fsum == pcm.map(v => v.toLong * v).sum && badNull)
      // NearestCentroid (DataFrame-side; ships a collected model object)
      // under the same fallback=false session
      import org.apache.spark.sql.functions.col
      val cids = spark.createDataset(Seq(
          (1L, Array(0.0f, 0.0f)), (2L, Array(10.0f, 10.0f))))
        .toDF("vec_id", "embedding")
        .withColumn("cid", graft.functions.VectorFunctions.nearestCentroid(
          col("embedding"), Array(7L, 8L),
          Array(Array(0.0f, 1.0f), Array(9.0f, 9.0f))))
        .select("vec_id", "cid").as[(Long, Long)].collect().toMap
      assert(cids == Map(1L -> 7L, 2L -> 8L))
    }
    // the private session ended with the block: later specs get the shared
    // session back, and its conf never saw the fallback setting
    val shared = LocalSpark.session
    assert(SparkSession.getActiveSession.exists(_ eq shared))
    assert(SparkSession.getDefaultSession.exists(_ eq shared))
    assert(shared.conf.get("spark.sql.codegen.fallback") == "true")
  }
}
