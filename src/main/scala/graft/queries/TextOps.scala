package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Core._

/** Training-data text operators beyond the declared Q-series (north star):
  * MinHash+LSH near-dup candidates, SimHash, language ID, quality scoring,
  * token statistics, document fingerprinting, and a non-trivial-threshold
  * shingle-Jaccard. All hashing routes through md5 hex strings so Spark and
  * the DuckDB oracle compute identical signatures (min over lexicographic
  * hex = a uniform permutation proxy; no engine-specific hash functions).
  *
  * Scale posture: every operator is a per-row map + hash-partitioned
  * aggregation; the LSH band join replaces the quadratic all-pairs shingle
  * join — candidates meet only inside (band, signature) buckets.
  */
object TextOps {

  /** Cleaned lowercase word tokens (shared definition: [[Core.tokens]]). */
  private def tokens(c: Column): Column = Core.tokens(c)

  /** Word n-gram shingle set (distinct) per doc — Spark side. Dedup happens
    * inside the row ([[Core.wordNgrams]]), so no shuffle precedes the
    * per-doc aggregations that consume this. */
  private def wordShingles(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val d = spread(table(spark, dir, "documents"))
    d.select(col("doc_id"), tokens(col("text")).as("l"))
      .select(col("doc_id"), explode(wordNgrams(col("l"), n)).as("g"))
  }

  /** 60-bit md5-prefix integer of a gram string — the one hash Spark and
    * DuckDB compute identically (`conv(substr(md5(g),1,15),16,10)` ↔
    * `CAST('0x' || substr(md5(g),1,15) AS BIGINT)`), so gram exchanges can
    * carry an 8-byte key instead of the ~50-byte 8-gram string and the
    * oracle still mirrors every intermediate exactly. */
  private def gramKey(g: Column): Column =
    conv(substring(md5(g), 1, 15), 16, 10).cast("long")

  /** [[wordShingles]] with the gram hashed IN-ROW: grams → 60-bit keys →
    * array_distinct BEFORE the explode, so the per-doc key set matches the
    * oracle's `SELECT DISTINCT doc_id, gk` even under hash collision, and
    * the corpus-width exchange downstream carries 8-byte keys. */
  private def wordShinglesHashed(spark: SparkSession, dir: String, n: Int): DataFrame = {
    val d = spread(table(spark, dir, "documents"))
    d.select(col("doc_id"), tokens(col("text")).as("l"))
      .select(col("doc_id"),
        explode(array_distinct(transform(wordNgrams(col("l"), n), gramKey(_)))).as("gk"))
  }

  /** Word 3-gram shingle CTE — DuckDB side (aligned with [[wordShingles]]). */
  private val wordShinglesCte: String =
    """sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS g
      |  FROM (SELECT doc_id, l,
      |               unnest(generate_series(1, greatest(len(l)-2, 0))) AS i
      |        FROM (SELECT doc_id,
      |                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                 x -> x <> '') AS l
      |              FROM documents) t0) t1
      |)""".stripMargin

  /** x02: MinHash (8 hashes) + LSH (4 bands × 2 rows) near-dup candidates.
    * Bucket key = (band = seed % 4, concatenated minhashes of the band);
    * pairs meet only within buckets — the 100 TB path (no all-pairs join). */
  /** LSH bands per doc: 8 minhashes in ONE aggregation pass (no seed cross
    * join — an 8x input blowup and an extra shuffle at 100 TB), 4 bands of
    * 2 rows exploding from the single row per doc. Shared by x02 / x27. */
  /** Per-doc 8-slot MinHash signature vector `(doc_id, mh0..mh7)` — the ONE
    * definition of the minhash scheme (seed format, hash), shared by the
    * band derivation (x02/x27) and the accuracy audit (x43) so the scheme
    * can never silently diverge between them. */
  private def minhashes(spark: SparkSession, dir: String): DataFrame =
    minhashesFrom(wordShingles(spark, dir))

  /** [[minhashes]] over an already-built shingle frame — lets a consumer
    * that also reads the shingles themselves (x207) share ONE shingle
    * materialization instead of re-running the tokenize→shingle pipeline
    * per consumer. Same scheme, same rows. */
  private def minhashesFrom(sh: DataFrame): DataFrame = {
    val mhCols = (0 until 8).map(s =>
      min(md5(concat(col("g"), lit(s":$s")))).as(s"mh$s"))
    sh.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
  }

  private def lshBands(spark: SparkSession, dir: String): DataFrame = {
    val mh = minhashes(spark, dir)
    mh.select(col("doc_id"), explode(array(
      (0 until 4).map(b => struct(lit(b).as("band"),
        concat(col(s"mh$b"), col(s"mh${b + 4}")).as("sig"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Bands CTE — DuckDB side (aligned with [[lshBands]]). */
  private val lshBandsCte: String =
    s"""$wordShinglesCte,
       |seeds AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) s(s)),
       |mh AS (
       |  SELECT doc_id, s, min(md5(g || ':' || CAST(s AS VARCHAR))) AS mh
       |  FROM sh CROSS JOIN seeds GROUP BY doc_id, s),
       |bands AS (
       |  SELECT doc_id, s % 4 AS band, string_agg(mh, '' ORDER BY s) AS sig
       |  FROM mh GROUP BY doc_id, s % 4)""".stripMargin

  val x02 = DQ("x02_minhash_lsh", Some(
    s"""WITH $lshBandsCte,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
       |SELECT id1, id2 FROM pairs ORDER BY id1, id2""".stripMargin)) {
    (spark, dir) =>
      val bands = lshBands(spark, dir)
      val a = bands.select(col("doc_id").as("id1"), col("band"), col("sig"))
      val b = bands.select(col("doc_id").as("id2"), col("band").as("band2"), col("sig").as("sig2"))
      a.join(b, col("band") === col("band2") && col("sig") === col("sig2")
          && col("id1") < col("id2"))
        .select("id1", "id2").distinct().orderBy("id1", "id2")
  }

  /** 16-bit SimHash signature per doc over char-4-grams; bit b = sign of Σ±1
    * where +1 iff hex digit b of md5(shingle) has its top nibble-bit set.
    * All 16 bit-sums run in ONE aggregation pass over a single md5 per
    * shingle (the positional cross join would blow the input up 16x and add
    * a second shuffle — fatal at 100 TB). Shared by x03 / x31. */
  private def simhashSigs(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(table(spark, dir, "documents"))
    val sh = d.select(col("doc_id"),
      explode(charShingles(lower(col("text")), 4)).as("g"))
    val topBit = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val withMd5 = sh.select(col("doc_id"), md5(col("g")).as("h"))
    val bitCols = (1 to 16).map { p =>
      when(sum(when(substring(col("h"), p, 1).isin(topBit: _*), 1).otherwise(-1)) >= 0,
        "1").otherwise("0").as(s"b$p")
    }
    withMd5.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"), concat((1 to 16).map(p => col(s"b$p")): _*).as("simhash"))
  }

  /** SimHash signature CTE (ends in `sig(doc_id, simhash)`) — DuckDB side,
    * aligned with [[simhashSigs]]. */
  private val simhashCte: String =
    """sh AS (
      |  SELECT DISTINCT doc_id, substring(lower(text), CAST(i AS INT), 4) AS g
      |  FROM (SELECT doc_id, text,
      |               unnest(generate_series(1, greatest(length(text)-3, 0))) AS i
      |        FROM documents) t),
      |ps AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),
      |                             (9),(10),(11),(12),(13),(14),(15),(16)) p(p)),
      |bits AS (
      |  SELECT doc_id, p,
      |         CASE WHEN sum(CASE WHEN substring(md5(g), p, 1)
      |                            IN ('8','9','a','b','c','d','e','f')
      |                       THEN 1 ELSE -1 END) >= 0
      |              THEN '1' ELSE '0' END AS bit
      |  FROM sh CROSS JOIN ps GROUP BY doc_id, p),
      |sig AS (
      |  SELECT doc_id, string_agg(bit, '' ORDER BY p) AS simhash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  val x03 = DQ("x03_simhash", Some(
    s"""WITH $simhashCte
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin)) {
    (spark, dir) => simhashSigs(spark, dir).orderBy("doc_id")
  }

  /** x05: language ID by marker-word hits (word-gram heuristic): count hits
    * per candidate language's marker set, argmax with deterministic tiebreak,
    * 'und' when nothing hits. */
  val x05 = DQ("x05_lang_id", Some(
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                    x -> x <> '')) AS tok
      |  FROM documents),
      |hits AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN tok IN ('the','and','is','of','to') THEN 1 ELSE 0 END) AS BIGINT) AS en,
      |    CAST(sum(CASE WHEN tok IN ('el','la','de','que','y') THEN 1 ELSE 0 END) AS BIGINT) AS es,
      |    CAST(sum(CASE WHEN tok IN ('le','les','et','un','est') THEN 1 ELSE 0 END) AS BIGINT) AS fr
      |  FROM toks GROUP BY doc_id),
      |pred AS (
      |  SELECT d.doc_id,
      |    CASE WHEN coalesce(h.en,0) = 0 AND coalesce(h.es,0) = 0 AND coalesce(h.fr,0) = 0 THEN 'und'
      |         WHEN coalesce(h.en,0) >= coalesce(h.es,0) AND coalesce(h.en,0) >= coalesce(h.fr,0) THEN 'en'
      |         WHEN coalesce(h.es,0) >= coalesce(h.fr,0) THEN 'es'
      |         ELSE 'fr' END AS pred_lang
      |  FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id)
      |SELECT pred_lang, count(*) AS n FROM pred GROUP BY pred_lang ORDER BY pred_lang""".stripMargin)) {
    (spark, dir) =>
      val d = table(spark, dir, "documents")
      val en = Seq("the", "and", "is", "of", "to")
      val es = Seq("el", "la", "de", "que", "y")
      val fr = Seq("le", "les", "et", "un", "est")
      def hitCount(ws: Seq[String]): Column =
        coalesce(sum(when(col("tok").isin(ws: _*), 1).otherwise(0)), lit(0L))
      val hits = d.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id")
        .agg(hitCount(en).as("en"), hitCount(es).as("es"), hitCount(fr).as("fr"))
      d.select("doc_id").join(hits, Seq("doc_id"), "left")
        .na.fill(0L, Seq("en", "es", "fr"))
        .withColumn("pred_lang",
          when(col("en") === 0 && col("es") === 0 && col("fr") === 0, "und")
            .when(col("en") >= col("es") && col("en") >= col("fr"), "en")
            .when(col("es") >= col("fr"), "es")
            .otherwise("fr"))
        .groupBy("pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("pred_lang")
  }

  /** x06: document quality scoring — length, mean token length, stopword
    * ratio, non-alpha ratio; composite score rounded to 6 dp. */
  val x06 = DQ("x06_quality_score", Some(
    s"""WITH t AS (
       |  SELECT doc_id, n_chars,
       |         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l,
       |         CAST(length(regexp_replace(lower(text), '[a-z ]', '', 'g')) AS BIGINT) AS n_nonalpha
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, n_chars,
       |         CAST(len(l) AS BIGINT) AS n_tokens,
       |         CAST(len(list_filter(l, x -> x IN (${Documents.stopwords.map(w => s"'$w'").mkString(",")}))) AS BIGINT) AS n_stop,
       |         n_nonalpha
       |  FROM t)
       |SELECT doc_id, n_tokens,
       |  round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 6) AS stopword_ratio,
       |  round(CAST(n_nonalpha AS DOUBLE) / greatest(n_chars, 1), 6) AS punct_ratio,
       |  round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) *
       |        (1.0 - CAST(n_nonalpha AS DOUBLE) / greatest(n_chars, 1)), 6) AS quality
       |FROM m ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val d = table(spark, dir, "documents")
      val stop = Documents.stopwords
      val m = d.select(col("doc_id"), col("n_chars"),
          tokens(col("text")).as("l"),
          length(regexp_replace(lower(col("text")), "[a-z ]", "")).cast("bigint").as("n_nonalpha"))
        .select(col("doc_id"), col("n_chars"),
          size(col("l")).cast("bigint").as("n_tokens"),
          size(filter(col("l"), x => x.isin(stop: _*))).cast("bigint").as("n_stop"),
          col("n_nonalpha"))
      m.select(col("doc_id"), col("n_tokens"),
          round(col("n_stop").cast("double") / greatest(col("n_tokens"), lit(1)), 6).as("stopword_ratio"),
          round(col("n_nonalpha").cast("double") / greatest(col("n_chars"), lit(1)), 6).as("punct_ratio"),
          round(least(col("n_tokens").cast("double") / 100.0, lit(1.0)) *
            (lit(1.0) - col("n_nonalpha").cast("double") / greatest(col("n_chars"), lit(1))), 6).as("quality"))
        .orderBy("doc_id")
  }

  /** x07: token statistics — whitespace tokens vs a BPE-ish regex
    * segmentation (letter runs | digit runs | single other glyphs). */
  val x07 = DQ("x07_token_stats", Some(
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      table(spark, dir, "documents")
        .select(col("doc_id"),
          size(filter(split(col("text"), "\\s+"), x => x =!= "")).cast("bigint").as("ws_tokens"),
          size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
            .cast("bigint").as("bpe_tokens"))
        .orderBy("doc_id")
  }

  /** x08: document fingerprint — min md5 over char-8-grams (winnowing-style
    * content signature, robust to local reordering) plus length. */
  val x08 = DQ("x08_fingerprint", Some(
    """WITH sh AS (
      |  SELECT doc_id, substring(lower(text), CAST(i AS INT), 8) AS g
      |  FROM (SELECT doc_id, text,
      |               unnest(generate_series(1, greatest(length(text)-7, 0))) AS i
      |        FROM documents) t)
      |SELECT s.doc_id, min(md5(s.g)) AS fingerprint, max(d.n_chars) AS n_chars
      |FROM sh s JOIN documents d ON d.doc_id = s.doc_id
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)) {
    (spark, dir) =>
      val d = spread(table(spark, dir, "documents"))
      d.select(col("doc_id"), lower(col("text")).as("t"), col("n_chars"))
        .withColumn("i", explode(
          when(length(col("t")) >= 8, sequence(lit(1), length(col("t")) - 7))
            .otherwise(array())))
        .select(col("doc_id"), md5(col("t").substr(col("i"), lit(8))).as("h"), col("n_chars"))
        .groupBy("doc_id")
        .agg(min(col("h")).as("fingerprint"), max(col("n_chars")).as("n_chars"))
        .orderBy("doc_id")
  }

  /** x09: the Q28 shingle-Jaccard pipeline at a threshold the synthetic
    * corpus actually crosses (0.2), so the pair list is non-trivial. */
  val x09 = DQ("x09_ngram_jaccard_02", Some(Documents.neardupSql(0.2))) {
    (spark, dir) => Documents.neardup(spark, dir, 0.2)
  }

  /** x22: deterministic hash-stratified sampling (north star: reproducible
    * subsetting at 100 TB): membership = a prefix test on md5 of the stable
    * key, so the sample is identical across engines, runs, and retries —
    * no RNG state, no seed plumbing, and the filter pushes down to a
    * per-row predicate with no shuffle. '40'/'ff' ≈ a 25% Bernoulli rate. */
  val x22 = DQ("x22_hash_sample", Some(
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents
      |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
      |GROUP BY lang ORDER BY lang""".stripMargin)) {
    (spark, dir) =>
      table(spark, dir, "documents")
        .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < "40")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .orderBy("lang")
  }

  /** x23: TF-IDF-style top term per document — tf from a per-doc partial
    * aggregation, df via a token-keyed join (both map-side-combining), score
    * = tf/df (exact IEEE division, engine-portable), top-1 as a `min_by`
    * argmax on the ordering struct (-score, tok): a hash aggregate with
    * map-side combine instead of the oracle's row_number window, which
    * would re-shuffle AND sort every (doc, tok) pair just to keep row 1.
    * Negating an IEEE double is exact, so the ordering matches the
    * oracle's ORDER BY score DESC, tok ASC bit-for-bit. */
  val x23 = DQ("x23_tfidf_top", Some(
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                    x -> x <> '')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |scored AS (
      |  SELECT t.doc_id, t.tok, CAST(t.tf AS DOUBLE) / d.df AS score,
      |         row_number() OVER (PARTITION BY t.doc_id
      |                            ORDER BY CAST(t.tf AS DOUBLE) / d.df DESC, t.tok) AS rn
      |  FROM tf t JOIN df d ON t.tok = d.tok)
      |SELECT doc_id, tok AS top_term, score FROM scored WHERE rn = 1
      |ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val toks = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      tf.join(df, "tok")
        .withColumn("score", col("tf").cast("double") / col("df"))
        .groupBy("doc_id")
        .agg(min_by(struct(col("tok"), col("score")),
          struct(negate(col("score")), col("tok"))).as("top"))
        .select(col("doc_id"), col("top.tok").as("top_term"), col("top.score").as("score"))
        .orderBy("doc_id")
  }

  /** x26: overlapping token windows (training context packing): each doc
    * splits into 50-token windows with stride 25. Pure per-row explode —
    * no shuffle at all until the output sort, so it streams at scan speed
    * at any scale. */
  val x26 = DQ("x26_token_windows", Some(
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |w AS (SELECT doc_id, l, unnest(generate_series(1, len(l), 25)) AS s
      |      FROM t WHERE len(l) > 0)
      |SELECT doc_id, CAST((s - 1) // 25 AS INT) AS win_id,
      |       CAST(len(l[s:s+49]) AS INT) AS n_toks,
      |       array_to_string(l[s:s+49], ' ') AS win_text
      |FROM w ORDER BY doc_id, win_id""".stripMargin)) {
    (spark, dir) =>
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("l"))
        .filter(size(col("l")) > 0)
        .select(col("doc_id"), col("l"),
          explode(sequence(lit(1), size(col("l")), lit(25))).as("s"))
        .select(col("doc_id"),
          expr("CAST((s - 1) DIV 25 AS INT)").as("win_id"),
          size(slice(col("l"), col("s"), lit(50))).as("n_toks"),
          array_join(slice(col("l"), col("s"), lit(50)), " ").as("win_text"))
        .orderBy("doc_id", "win_id")
  }

  /** x27: dedup survivor labeling — the step after LSH candidate
    * generation: each doc takes the minimum doc_id of any (band, sig)
    * bucket it belongs to as its cluster label, so every near-dup bucket
    * collapses onto one canonical survivor (rep = doc_id). One round of
    * min-label propagation; chain-shaped clusters converge by iterating
    * this operator to fixpoint (each round = one shuffle by bucket). */
  val x27 = DQ("x27_dedup_survivors", Some(
    s"""WITH $lshBandsCte,
       |bmin AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY band, sig) AS bucket_min
       |  FROM bands)
       |SELECT doc_id, min(bucket_min) AS rep FROM bmin
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val bands = lshBands(spark, dir)
      val w = Window.partitionBy("band", "sig")
      bands.withColumn("bucket_min", min(col("doc_id")).over(w))
        .groupBy("doc_id").agg(min("bucket_min").as("rep"))
        .orderBy("doc_id")
  }

  /** x10: PII/URL scrubbing — the redaction pass every web-scale training
    * pipeline runs before tokenization. The fixture text is synthetic word
    * salad, so the view deterministically appends an email + URL derived
    * from doc_id; the operator then counts and redacts them. Pure per-row
    * regex map — streams at scan speed, no shuffle until the output sort. */
  val x10 = DQ("x10_pii_scrub", Some(
    """WITH aug AS (
      |  SELECT doc_id,
      |         text || ' mail user' || CAST(doc_id AS VARCHAR) || '@ex' ||
      |         CAST(doc_id % 7 AS VARCHAR) || '.com web http://s' ||
      |         CAST(doc_id % 5 AS VARCHAR) || '.org/p/' || CAST(doc_id AS VARCHAR) AS t
      |  FROM documents),
      |red AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(t, 'https?://[^\s]+')) AS INT) AS n_urls,
      |         CAST(len(regexp_extract_all(t, '[a-z0-9._%-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
      |         regexp_replace(regexp_replace(t, 'https?://[^\s]+', '<URL>', 'g'),
      |                        '[a-z0-9._%-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g') AS clean
      |  FROM aug)
      |SELECT doc_id, n_urls, n_emails,
      |       CAST(length(clean) AS INT) AS clean_len,
      |       substring(md5(clean), 1, 16) AS clean_sig
      |FROM red ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val urlPat = "https?://[^\\s]+"
      val mailPat = "[a-z0-9._%-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      table(spark, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          lit(" mail user"), col("doc_id").cast("string"), lit("@ex"),
          (col("doc_id") % 7).cast("string"), lit(".com web http://s"),
          (col("doc_id") % 5).cast("string"), lit(".org/p/"),
          col("doc_id").cast("string")).as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(urlPat), lit(0))).as("n_urls"),
          size(regexp_extract_all(col("t"), lit(mailPat), lit(0))).as("n_emails"),
          regexp_replace(regexp_replace(col("t"), urlPat, "<URL>"),
            mailPat, "<EMAIL>").as("clean"))
        .select(col("doc_id"), col("n_urls"), col("n_emails"),
          length(col("clean")).as("clean_len"),
          substring(md5(col("clean")), 1, 16).as("clean_sig"))
        .orderBy("doc_id")
  }

  /** x14: benchmark decontamination — flag training docs that share any
    * word-5-gram with the held-out set (doc_id % 97 = 0 stands in for the
    * benchmark). The 100 TB shape: the benchmark's shingle set is tiny and
    * BROADCASTS, so the check is a map-side semi-join over the training
    * shingles — no all-pairs comparison, no shuffle of the corpus. */
  val x14 = DQ("x14_contamination", Some(
    """WITH t0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(l[i:i+4], ' ') AS g
      |  FROM (SELECT doc_id, l,
      |               unnest(generate_series(1, greatest(len(l)-4, 0))) AS i
      |        FROM t0) t1),
      |test AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0)
      |SELECT s.doc_id, CAST(count(DISTINCT s.g) AS BIGINT) AS n_shared
      |FROM sh s JOIN test t ON s.g = t.g
      |WHERE s.doc_id % 97 <> 0
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)) {
    (spark, dir) =>
      val sh = wordShingles(spark, dir, 5)
      val test = sh.filter(col("doc_id") % 97 === 0).select("g").distinct()
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(test), "g") // benchmark shingles broadcast: map-side
        .groupBy("doc_id").agg(countDistinct(col("g")).as("n_shared"))
        .orderBy("doc_id")
  }

  /** x28: context packing across documents — assign docs to fixed
    * token-budget packs (512 tokens) by cumulative token count per lang in
    * doc_id order (the deterministic streaming-concatenation packer, vs
    * x26's within-doc windowing). One window cumsum per lang partition;
    * at 100 TB the lang partitions sort-spill independently, and a skewed
    * lang is subdivided by a coarse doc_id range prefix first. */
  val x28 = DQ("x28_doc_packing", Some(
    """WITH t AS (
      |  SELECT doc_id, lang,
      |         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                              x -> x <> '')) AS BIGINT) AS n_toks
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, lang, n_toks,
      |         sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT doc_id, lang, n_toks, CAST((cum - n_toks) // 512 AS INT) AS pack_id
      |FROM p ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), size(tokens(col("text"))).cast("long").as("n_toks"))
        .withColumn("cum", sum("n_toks").over(w))
        .select(col("doc_id"), col("lang"), col("n_toks"),
          expr("CAST((cum - n_toks) DIV 512 AS INT)").as("pack_id"))
        .orderBy("doc_id")
  }

  /** Non-distinct word n-grams (for repetition ratios — the duplicate count
    * is the signal, so [[Core.wordNgrams]]'s in-row dedup would destroy it).
    * Spark's `sequence(1, 0)` DESCENDS instead of returning empty, hence the
    * size guard. */
  private def ngramsAll(l: Column, n: Int): Column =
    when(size(l) >= n,
      transform(sequence(lit(1), size(l) - (n - 1)),
        i => array_join(slice(l, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** x30: intra-document repetition ratios (Gopher/C4-style repetition
    * filters): duplicate-token, duplicate-2-gram and duplicate-3-gram
    * fractions. Everything is computed INSIDE the row (token list + n-gram
    * lists + their distinct counts), so the operator is entirely
    * shuffle-free — it streams at scan speed at any scale; CPU is bounded
    * by document length. */
  val x30 = DQ("x30_repetition", Some(
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, l,
      |         list_transform(generate_series(1, greatest(len(l)-1, 0)),
      |                        i -> array_to_string(l[i:i+1], ' ')) AS g2,
      |         list_transform(generate_series(1, greatest(len(l)-2, 0)),
      |                        i -> array_to_string(l[i:i+2], ' ')) AS g3
      |  FROM t)
      |SELECT doc_id,
      |  CAST(len(l) AS BIGINT) AS n_toks,
      |  round(1.0 - CAST(len(list_distinct(l)) AS DOUBLE) / greatest(len(l), 1), 6) AS dup_tok_frac,
      |  round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / greatest(len(g2), 1), 6) AS dup_2gram_frac,
      |  round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / greatest(len(g3), 1), 6) AS dup_3gram_frac
      |FROM g ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      def dupFrac(c: Column): Column =
        round(lit(1.0) - size(array_distinct(c)).cast("double") / greatest(size(c), lit(1)), 6)
      // spread: the in-row tokenize + positional 2/3-gram builds are the
      // CPU and the compact scan is 1-2 partitions (4 single-task stages
      // measured round 15)
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("l"))
        .select(col("doc_id"), col("l"),
          ngramsAll(col("l"), 2).as("g2"), ngramsAll(col("l"), 3).as("g3"))
        .select(col("doc_id"),
          size(col("l")).cast("bigint").as("n_toks"),
          dupFrac(col("l")).as("dup_tok_frac"),
          dupFrac(col("g2")).as("dup_2gram_frac"),
          dupFrac(col("g3")).as("dup_3gram_frac"))
        .orderBy("doc_id")
  }

  /** x31: SimHash Hamming-neighborhood degree — for each doc, how many other
    * docs sit within Hamming distance 2 of its 16-bit SimHash (the
    * clustering signal a near-dup pass thresholds on). The oracle runs the
    * quadratic all-pairs join; the Spark plan exploits the bounded signature
    * space: collapse docs to a signature HISTOGRAM first (≤ 2^16 rows — one
    * doc shuffle with map-side combine), band the tiny histogram against
    * itself (3 bands of 6+5+5 bits; ham ≤ 2 over 3 bands pigeonholes at
    * least one exact band match, so banding loses nothing) with the exact
    * `bit_count(xor)` residual, then broadcast the per-signature degree
    * table back over the docs. A doc-level banded join degenerates here —
    * with docs ≫ 2^16 the band buckets saturate and candidate pairs grow
    * quadratically (8 s at sf0.1 vs 1.3 s for this shape); for WIDE (64-bit)
    * signatures the histogram is no longer bounded and the same banding
    * applies at the doc level instead. */
  val x31 = DQ("x31_simhash_neighbors", Some(
    s"""WITH $simhashCte
       |SELECT a.doc_id, CAST(count(b.doc_id) AS BIGINT) AS n_near
       |FROM sig a LEFT JOIN sig b
       |  ON a.doc_id <> b.doc_id
       | AND len(list_filter(generate_series(1,16),
       |         p -> substring(a.simhash, CAST(p AS INT), 1)
       |              <> substring(b.simhash, CAST(p AS INT), 1))) <= 2
       |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin)) {
    (spark, dir) =>
      // sig is cut for its two consumers (the histogram agg and the final
      // degree probe): two small columns whose lineage is the full
      // tokenize+hash pass. A/B (CHANGES.md): cut 3.06 s, no cut 3.62 s,
      // repartition 3.47 s; a cut on hist as well measured flat and went
      val sig = simhashSigs(spark, dir).localCheckpoint()
      val hist = sig.groupBy("simhash").agg(count(lit(1)).as("cnt"))
        .withColumn("iv", conv(col("simhash"), 2, 10).cast("long"))
      // Round 16 (§1.2 step 1): HAMMING-BALL ENUMERATION replaces the
      // 3-band histogram self-join. Banding buckets 16-bit signatures by
      // 5–6 bit prefixes — at most 64 buckets — so once the histogram
      // outgrows the bucket count, candidate pairs grow QUADRATICALLY in
      // distinct signatures (sf1 measured 9.0 s: ~10^8 banded pairs for
      // ~5·10^4 sigs). But "within Hamming distance 1..2 of s" is exactly
      // {s XOR m} over the 16 + C(16,2) = 136 non-zero masks: explode
      // each signature into its 136 neighbors (≤ 9M rows at histogram
      // saturation, LINEAR in sigs) and broadcast-hash-join back onto the
      // histogram — every s2 ≠ s1 with ham ≤ 2 is s1^m for exactly ONE m,
      // so summing matched counts needs no distinct and no residual
      // filter. Same result by construction; no shuffle of pairs at all.
      val masks = ((0 until 16).map(1L << _) ++
        (for { i <- 0 until 16; j <- i + 1 until 16 }
          yield (1L << i) | (1L << j))).toSeq
      val cross = hist.select(col("iv"),
          explode(typedLit(masks)).as("m"))
        .select(col("iv"), col("iv").bitwiseXOR(col("m")).as("niv"))
        .join(broadcast(hist.select(col("iv").as("niv"), col("cnt").as("ncnt"))),
          "niv")
        .groupBy("iv").agg(sum("ncnt").as("cross_n"))
      // + same-signature co-members (cnt - 1), docs with a unique sig -> 0
      val neigh = hist.join(cross, Seq("iv"), "left")
        .select(col("simhash"),
          (coalesce(col("cross_n"), lit(0L)) + col("cnt") - 1).as("n_near"))
      sig.join(broadcast(neigh), "simhash")
        .select(col("doc_id"), col("n_near"))
        .orderBy("doc_id")
  }

  /** x32: vocabulary-coverage scoring (the LM-lite commonness filter: CCNet
    * scores docs by language-model fit; the deterministic stand-in is the
    * fraction of token occurrences covered by the corpus's top-K
    * vocabulary). Two-pass: corpus token counts → top-K vocab (tiny —
    * TakeOrderedAndProject, then BROADCAST to the per-doc pass, so the
    * corpus is never shuffled for the join). K=10 because the synthetic
    * fixture vocabulary is only ~31 tokens; at web scale K≈50k-vocab with
    * the identical plan. */
  val x32 = DQ("x32_vocab_coverage", Some(
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                    x -> x <> '')) AS tok
      |  FROM documents),
      |c AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
      |v AS (SELECT tok FROM c ORDER BY n DESC, tok LIMIT 10)
      |SELECT t.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_toks,
      |  CAST(count(v.tok) AS BIGINT) AS n_in,
      |  round(CAST(count(v.tok) AS DOUBLE) / count(*), 6) AS coverage
      |FROM toks t LEFT JOIN v ON t.tok = v.tok
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)) {
    (spark, dir) =>
      val toks = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(10)
        .select(col("tok"), lit(1).as("hit"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          count(col("hit")).as("n_in"),
          round(count(col("hit")).cast("double") / count(lit(1)), 6).as("coverage"))
        .orderBy("doc_id")
  }

  /** x36: per-stratum quota sampling — cap each language at 50 documents,
    * chosen by md5(doc_id) rank (the deterministic "downsample
    * over-represented sources" step of corpus mixing; x22 is the rate-based
    * cousin). Hash-ranking makes the kept set reproducible across engines,
    * runs and retries; the rank itself is the per-doc mixing key. One
    * window sort per stratum — at 100 TB the strata sort independently, and
    * a quota ≪ stratum size admits a pre-filter on the hash prefix
    * (x22-style) to shrink the sort input first. */
  val x36 = DQ("x36_stratum_quota", Some(
    """WITH ranked AS (
      |  SELECT doc_id, lang, n_chars,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT doc_id, lang, n_chars, CAST(rk AS INT) AS rk
      |FROM ranked WHERE rk <= 50 ORDER BY lang, rk""".stripMargin)) {
    (spark, dir) =>
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      table(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 50)
        .orderBy("lang", "rk")
  }

  /** x37: transitive-closure dedup clustering — x27's one-round bucket-min
    * labeling under-merges chains (A~B and B~C in different buckets leaves
    * A and C apart); this runs [[graft.batch.Components.minLabelFixpoint]]
    * over the symmetric star edges (doc ↔ bucket-min per LSH bucket) until
    * no label changes, yielding the true connected-component representative
    * per doc. The oracle computes the same closure declaratively with a
    * recursive CTE; Spark iterates (diameter-bounded rounds of one join +
    * one min-agg — the standard large-graph CC loop). */
  val x37 = DQ("x37_dedup_components", Some(
    s"""WITH RECURSIVE $lshBandsCte,
       |bmin AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY band, sig) AS bm
       |  FROM bands),
       |star AS (SELECT DISTINCT doc_id AS src, bm AS dst FROM bmin WHERE doc_id <> bm),
       |edges AS (SELECT src, dst FROM star UNION SELECT dst, src FROM star),
       |reach(doc_id, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.doc_id = e.dst)
       |SELECT doc_id, min(lab) AS rep FROM reach
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val bands = lshBands(spark, dir)
      val w = Window.partitionBy("band", "sig")
      val star = bands.withColumn("bm", min("doc_id").over(w))
        .filter(col("doc_id") =!= col("bm"))
        .select(col("doc_id").as("src"), col("bm").as("dst")).distinct()
      val edges = star.unionByName(
        star.select(col("dst").as("src"), col("src").as("dst")))
      val nodes = table(spark, dir, "documents").select(col("doc_id").as("id"))
      graft.batch.Components.minLabelFixpoint(nodes, edges)
        .select(col("id").as("doc_id"), col("rep"))
        .orderBy("doc_id")
  }

  /** x38: the composed quality-filter pipeline — the verdict pass an actual
    * corpus build runs, fusing the per-doc gates into ONE scan: length
    * (too_short), repetition (x30's duplicate-2-gram fraction), and
    * LM-fit stand-in (x32's top-K vocab coverage, the only part needing a
    * second tiny pass — the broadcast vocab). First failing gate (fixed
    * precedence) becomes the reason; thresholds sit at the corpus's
    * p05–p25 so every reason actually fires. All comparisons are on
    * identically-derived IEEE doubles, so the keep/drop verdicts are
    * engine-exact. */
  val x38 = DQ("x38_quality_filter", Some(
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, l,
      |         list_transform(generate_series(1, greatest(len(l)-1, 0)),
      |                        i -> array_to_string(l[i:i+1], ' ')) AS g2
      |  FROM t),
      |toks AS (SELECT doc_id, unnest(l) AS tok FROM t),
      |cnt AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
      |v AS (SELECT tok FROM cnt ORDER BY n DESC, tok LIMIT 10),
      |cov AS (SELECT t2.doc_id, CAST(count(v.tok) AS DOUBLE) / count(*) AS coverage
      |        FROM toks t2 LEFT JOIN v ON t2.tok = v.tok GROUP BY t2.doc_id),
      |m AS (
      |  SELECT g.doc_id, CAST(len(l) AS BIGINT) AS n_toks,
      |         1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / greatest(len(g2), 1) AS dup2,
      |         cov.coverage
      |  FROM g JOIN cov ON g.doc_id = cov.doc_id)
      |SELECT doc_id, n_toks,
      |  CASE WHEN n_toks < 30 THEN 'too_short'
      |       WHEN dup2 > 0.06 THEN 'repetitive'
      |       WHEN coverage < 0.25 THEN 'low_coverage'
      |       ELSE 'ok' END AS reason,
      |  CAST(CASE WHEN n_toks >= 30 AND dup2 <= 0.06 AND coverage >= 0.25
      |       THEN 1 ELSE 0 END AS INT) AS keep
      |FROM m ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val t = table(spark, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("l"))
      val toks = spread(t).select(col("doc_id"), explode(col("l")).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(10)
        .select(col("tok"), lit(1).as("hit"))
      val cov = toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg((count(col("hit")).cast("double") / count(lit(1))).as("coverage"))
      val m = t
        .withColumn("g2", ngramsAll(col("l"), 2))
        .select(col("doc_id"), size(col("l")).cast("bigint").as("n_toks"),
          (lit(1.0) - size(array_distinct(col("g2"))).cast("double")
            / greatest(size(col("g2")), lit(1))).as("dup2"))
        .join(cov, "doc_id")
      m.select(col("doc_id"), col("n_toks"),
          when(col("n_toks") < 30, "too_short")
            .when(col("dup2") > 0.06, "repetitive")
            .when(col("coverage") < 0.25, "low_coverage")
            .otherwise("ok").as("reason"),
          when(col("n_toks") >= 30 && col("dup2") <= 0.06 && col("coverage") >= 0.25, 1)
            .otherwise(0).cast("int").as("keep"))
        .orderBy("doc_id")
  }

  /** x39: Bloom-prefiltered decontamination — the 100 TB shape of x14's
    * problem when even the broadcast hash set is too big for every task:
    * the benchmark 3-gram set is sketched into a Bloom filter (a few MB for
    * millions of shingles at 1% fpp), the corpus shingle stream is
    * prefiltered by a driver-built, task-broadcast `mightContain` (pure
    * map, no join, no shuffle — ~99% of shingles drop here), and ONLY the
    * survivors take the exact semi-join that kills false positives. The
    * result is exact regardless of fpp, so the DuckDB oracle is the plain
    * exact join. */
  val x39 = DQ("x39_bloom_contamination", Some(
    """WITH t0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS g
      |  FROM (SELECT doc_id, l,
      |               unnest(generate_series(1, greatest(len(l)-2, 0))) AS i
      |        FROM t0) t1),
      |test AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0)
      |SELECT s.doc_id, CAST(count(DISTINCT s.g) AS BIGINT) AS n_shared
      |FROM sh s JOIN test t ON s.g = t.g
      |WHERE s.doc_id % 97 <> 0
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)) {
    (spark, dir) =>
      val sh = wordShingles(spark, dir, 3)
      // benchmark side is ~1% of the corpus (filter pushes to the scan) and
      // feeds two actions (bloom build + verify join); recomputing the tiny
      // slice beats leaking an unevictable cached frame per invocation —
      // a lazily-returned DataFrame has no safe unpersist point. Bloom
      // capacity is a fixed overestimate, NOT a count() action: undersizing
      // only raises fpp, and the exact verify join makes fpp a latency
      // knob, not a correctness one.
      val bench = sh.filter(col("doc_id") % 97 === 0).select("g").distinct()
      val bloom = bench.stat.bloomFilter("g", 1L << 20, 0.01)
      val mightContain = udf((g: String) => g != null && bloom.mightContain(g))
      sh.filter(col("doc_id") % 97 =!= 0)
        .filter(mightContain(col("g"))) // bloom prefilter: map-only, ~99% drop
        .join(broadcast(bench), "g")    // exact verify on survivors only
        .groupBy("doc_id").agg(countDistinct(col("g")).as("n_shared"))
        .orderBy("doc_id")
  }

  /** x40: deterministic stratified train/val/test split — membership from a
    * 2-hex-char md5 prefix of the stable doc key (~80/10/10), so the split
    * is identical across engines, runs, retries, and re-partitions: no RNG,
    * no seed plumbing, no global sort. Pure per-row map + one aggregation;
    * at 100 TB the assignment never shuffles the corpus. */
  val x40 = DQ("x40_split_assign", Some(
    """SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
      |            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
      |            ELSE 'test' END AS split,
      |       lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
      |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
      |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin)) {
    (spark, dir) =>
      val b = substring(md5(col("doc_id").cast("string")), 1, 2)
      table(spark, dir, "documents")
        .withColumn("split",
          when(b < "cc", "train").when(b < "e6", "val").otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
          (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy("split", "lang")
  }

  /** x41: curriculum bins — per-language difficulty deciles (n_chars as the
    * difficulty proxy) via ntile, with per-bin counts and ranges. One
    * window sort per lang partition; at 100 TB ntile's global-per-partition
    * rank would come from a distributed sort — or be replaced by
    * approx-quantile cut points broadcast as bin edges (the x17 path). */
  val x41 = DQ("x41_curriculum_bins", Some(
    """WITH b AS (
      |  SELECT lang, n_chars,
      |         CAST(ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS INT) AS bin
      |  FROM documents)
      |SELECT lang, bin, count(*) AS n,
      |       CAST(min(n_chars) AS BIGINT) AS min_chars,
      |       CAST(max(n_chars) AS BIGINT) AS max_chars
      |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin)) {
    (spark, dir) =>
      val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
      table(spark, dir, "documents")
        .withColumn("bin", ntile(10).over(w))
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("lang", "bin")
  }

  /** x42: per-document token diversity — Simpson index 1 − Σ(cᵢ/N)², an
    * entropy-style repetition signal chosen over Shannon entropy because it
    * needs NO transcendental functions: integer counts, integer squares,
    * one final IEEE division — bit-identical across engines. Two
    * map-side-combining hash aggregations, no window, no join. */
  val x42 = DQ("x42_token_diversity", Some(
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                    x -> x <> '')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
      |       CAST(sum(c) AS BIGINT) AS n_toks,
      |       CAST(sum(c)*sum(c) - sum(c*c) AS DOUBLE) / (sum(c)*sum(c)) AS diversity
      |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val toks = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_distinct"), sum("c").as("n_toks"),
          sum(col("c") * col("c")).as("s2"))
        .select(col("doc_id"), col("n_distinct"), col("n_toks"),
          ((col("n_toks") * col("n_toks") - col("s2")).cast("double")
            / (col("n_toks") * col("n_toks"))).as("diversity"))
        .orderBy("doc_id")
  }

  /** x43: sketch accuracy audit — for every LSH candidate pair (x02's
    * bucket join), the MinHash-ESTIMATED Jaccard (fraction of the 8
    * signature slots that agree — the only similarity a 100 TB pipeline
    * can afford for all pairs) against the EXACT shingle Jaccard computed
    * on the candidates only. The production pattern: estimate everywhere,
    * exact-verify the small candidate set, and this query IS the
    * calibration table that tells you what estimate threshold to trust.
    * Estimates are exact multiples of 1/8 and the exact side rounds at
    * 6 dp — both engine-portable. */
  val x43 = DQ("x43_minhash_accuracy", Some(
    s"""WITH $lshBandsCte,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT p.id1, p.id2,
       |         CAST(sum(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) AS DOUBLE) / 8 AS est_j
       |  FROM pairs p
       |  JOIN mh m1 ON m1.doc_id = p.id1
       |  JOIN mh m2 ON m2.doc_id = p.id2 AND m2.s = m1.s
       |  GROUP BY p.id1, p.id2),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.id1, p.id2, count(*) AS ninter
       |  FROM pairs p
       |  JOIN sh a ON a.doc_id = p.id1
       |  JOIN sh b ON b.doc_id = p.id2 AND b.g = a.g
       |  GROUP BY p.id1, p.id2)
       |SELECT e.id1, e.id2, e.est_j,
       |       round(CAST(i.ninter AS DOUBLE) / (c1.n + c2.n - i.ninter), 6) AS exact_j
       |FROM est e
       |JOIN inter i ON i.id1 = e.id1 AND i.id2 = e.id2
       |JOIN cnt c1 ON c1.doc_id = e.id1
       |JOIN cnt c2 ON c2.doc_id = e.id2
       |ORDER BY e.id1, e.id2""".stripMargin)) {
    (spark, dir) =>
      // nothing is cached: the whole query is ONE action, so Catalyst's
      // ReuseExchange computes each repeated subtree (the signature agg
      // feeding bands/m1/m2, the shingle scan) once per shuffle boundary;
      // an explicit persist() only cuts the codegen pipeline (x31 measured
      // slower with one)
      val sh = wordShingles(spark, dir)
      val mh = minhashes(spark, dir)
      val bands = mh.select(col("doc_id"), explode(array(
        (0 until 4).map(b => struct(lit(b).as("band"),
          concat(col(s"mh$b"), col(s"mh${b + 4}")).as("sig"))): _*)).as("bs"))
        .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      val pairs = bands.select(col("doc_id").as("id1"), col("band"), col("sig"))
        .join(bands.select(col("doc_id").as("id2"), col("band").as("b2"), col("sig").as("s2")),
          col("band") === col("b2") && col("sig") === col("s2") && col("id1") < col("id2"))
        .select("id1", "id2").distinct()
      // estimate: row-wise slot agreement between the two signature vectors
      val m1 = mh.toDF((Seq("id1") ++ (0 until 8).map(s => s"a$s")): _*)
      val m2 = mh.toDF((Seq("id2") ++ (0 until 8).map(s => s"b$s")): _*)
      val agree = (0 until 8).map(s =>
        (col(s"a$s") === col(s"b$s")).cast("int")).reduce(_ + _)
      val est = pairs.join(m1, "id1").join(m2, "id2")
        .select(col("id1"), col("id2"), (agree.cast("double") / 8).as("est_j"))
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = pairs
        .join(sh.select(col("doc_id").as("id1"), col("g")), "id1")
        .join(sh.select(col("doc_id").as("id2"), col("g")), Seq("id2", "g"))
        .groupBy("id1", "id2").agg(count(lit(1)).as("ninter"))
      est.join(inter, Seq("id1", "id2"))
        .join(cnt.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
        .join(cnt.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
        .select(col("id1"), col("id2"), col("est_j"),
          round(col("ninter").cast("double") / (col("n1") + col("n2") - col("ninter")), 6)
            .as("exact_j"))
        .orderBy("id1", "id2")
  }

  /** x45: dedup report — the cluster-size histogram a dedup pass publishes
    * (how many singletons, pairs, larger families, plus the row-reduction
    * it implies). Reuses x37's transitive closure; the histogram is two
    * tiny map-side-combining aggregations over one row per doc, so the
    * report costs nothing beyond the closure itself at any scale. */
  val x45 = DQ("x45_dedup_summary", Some(
    s"""WITH RECURSIVE $lshBandsCte,
       |bmin AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY band, sig) AS bm
       |  FROM bands),
       |star AS (SELECT DISTINCT doc_id AS src, bm AS dst FROM bmin WHERE doc_id <> bm),
       |edges AS (SELECT src, dst FROM star UNION SELECT dst, src FROM star),
       |reach(doc_id, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.doc_id = e.dst),
       |labels AS (SELECT doc_id, min(lab) AS rep FROM reach GROUP BY doc_id),
       |clusters AS (SELECT rep, count(*) AS sz FROM labels GROUP BY rep)
       |SELECT CAST(sz AS BIGINT) AS cluster_size,
       |       count(*) AS n_clusters,
       |       CAST(sz * count(*) AS BIGINT) AS n_docs
       |FROM clusters GROUP BY sz ORDER BY cluster_size""".stripMargin)) {
    (spark, dir) =>
      val bands = lshBands(spark, dir)
      val w = Window.partitionBy("band", "sig")
      val star = bands.withColumn("bm", min("doc_id").over(w))
        .filter(col("doc_id") =!= col("bm"))
        .select(col("doc_id").as("src"), col("bm").as("dst")).distinct()
      val edges = star.unionByName(
        star.select(col("dst").as("src"), col("src").as("dst")))
      val nodes = table(spark, dir, "documents").select(col("doc_id").as("id"))
      graft.batch.Components.minLabelFixpoint(nodes, edges)
        .groupBy("rep").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
  }

  /** x46: corpus-duplicated n-gram fraction — for each document, the share
    * of its distinct word-8-grams that appear in at least one OTHER document
    * (the RefinedWeb/Gopher "fraction of duplicated n-grams" boilerplate
    * signal at corpus granularity; x30 measures repetition WITHIN a doc,
    * this measures repetition ACROSS docs). Grams dedup inside the row
    * ([[Core.wordNgrams]]), so the document-frequency aggregation
    * map-side-combines. The corpus is shingled ONCE: the gram aggregation
    * keeps an inverted list of the doc_ids alongside the count (documents
    * per gram are few — the list is as narrow as the join it replaces),
    * and exploding it back hands every doc its grams' df without a second
    * shingle pass or a join. The exchanged key is NOT the gram string but
    * its 60-bit md5-prefix integer (`conv(substr(md5(g),1,15),16,10)` —
    * the one hash both engines compute identically, so the oracle mirrors
    * it): at 100 TB an avg word-8-gram is ~50 bytes and the hash is 8, a
    * ~6× narrower gram exchange; any collision collapses the same pair of
    * grams in both engines, so the gate stays exact. */
  val x46 = DQ("x46_dup_ngram_frac", Some(
    """WITH t0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    CAST('0x' || substr(md5(array_to_string(l[i:i+7], ' ')), 1, 15)
      |         AS BIGINT) AS gk
      |  FROM (SELECT doc_id, l,
      |               unnest(generate_series(1, greatest(len(l)-7, 0))) AS i
      |        FROM t0) t1),
      |df AS (SELECT gk, count(*) AS d FROM sh GROUP BY gk)
      |SELECT s.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(sum(CASE WHEN df.d >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  round(CAST(sum(CASE WHEN df.d >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |        / count(*), 6) AS dup_frac
      |FROM sh s JOIN df ON s.gk = df.gk
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)) {
    (spark, dir) =>
      val sh = wordShinglesHashed(spark, dir, 8)
      val inv = sh.groupBy("gk")
        .agg(count(lit(1)).as("d"), collect_list(col("doc_id")).as("ids"))
      val dup = sum(when(col("d") >= 2, 1).otherwise(0))
      inv.select(col("d"), explode(col("ids")).as("doc_id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), dup.as("n_dup"),
          round(dup.cast("double") / count(lit(1)), 6).as("dup_frac"))
        .orderBy("doc_id")
  }

  /** x47: temperature-weighted language mixing — the multilingual
    * corpus-balancing step: per-language sampling quotas ∝ count^0.5
    * (alpha = 0.5 flattens the head so low-resource languages keep
    * representation), then a deterministic md5-rank sample up to each
    * quota (x36's mechanism with a DATA-DRIVEN cap). Everything numeric
    * stays engine-exact: sqrt is IEEE-correctly-rounded, weights quantize
    * to integer micro-units before the (order-sensitive) sum, and the
    * quota rounds via floor(x+0.5). The count pass and the rank pass are
    * the only shuffles; the quota table broadcasts. */
  val x47 = DQ("x47_temperature_mix", Some(
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |w AS (SELECT lang, n,
      |             CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS wq
      |      FROM c),
      |tot AS (SELECT CAST(sum(wq) AS BIGINT) AS tw FROM w),
      |q AS (SELECT lang, n, CAST(floor(200.0 * wq / tw + 0.5) AS INT) AS quota
      |      FROM w CROSS JOIN tot),
      |ranked AS (
      |  SELECT doc_id, lang,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents),
      |s AS (SELECT r.lang, count(*) AS n_sampled
      |      FROM ranked r JOIN q ON r.lang = q.lang
      |      WHERE r.rk <= q.quota GROUP BY r.lang)
      |SELECT q.lang, CAST(q.n AS BIGINT) AS n_docs, q.quota,
      |       CAST(s.n_sampled AS BIGINT) AS n_sampled
      |FROM q JOIN s ON q.lang = s.lang ORDER BY q.lang""".stripMargin)) {
    (spark, dir) =>
      val docs = table(spark, dir, "documents")
      val w = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .withColumn("wq", floor(sqrt(col("n").cast("double")) * 1000000).cast("bigint"))
      val tot = w.agg(sum("wq").as("tw"))
      val q = w.crossJoin(broadcast(tot))
        .withColumn("quota", floor(lit(200.0) * col("wq") / col("tw") + 0.5).cast("int"))
      val rk = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val sampled = docs.select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(rk))
        .join(broadcast(q.select(col("lang"), col("quota"))), "lang")
        .filter(col("rk") <= col("quota"))
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
      q.join(sampled, "lang")
        .select(col("lang"), col("n").as("n_docs"), col("quota"), col("n_sampled"))
        .orderBy("lang")
  }

  /** x49: broadcast-bin-edge curriculum assignment — the 100 TB path x41's
    * Scaladoc promises, made concrete: instead of ntile's global
    * per-stratum sort over the corpus, compute per-language quartile edges
    * (three numbers per language — exact `percentile` here; at petabyte
    * scale `approx_percentile`, same plan), BROADCAST them, and assign bins
    * with a per-row comparison. The corpus is never sorted and never
    * shuffled for the assignment — only the final per-(lang,bin) rollup
    * aggregates. Quartile positions interpolate at exact quarter fractions
    * of integers, so the edges — and every > comparison — are bit-identical
    * across engines. */
  val x49 = DQ("x49_quantile_bins", Some(
    """WITH e AS (
      |  SELECT lang,
      |         quantile_cont(n_chars, 0.25) AS q1,
      |         quantile_cont(n_chars, 0.50) AS q2,
      |         quantile_cont(n_chars, 0.75) AS q3
      |  FROM documents GROUP BY lang)
      |SELECT d.lang,
      |  CAST(1 + CASE WHEN d.n_chars > e.q1 THEN 1 ELSE 0 END
      |         + CASE WHEN d.n_chars > e.q2 THEN 1 ELSE 0 END
      |         + CASE WHEN d.n_chars > e.q3 THEN 1 ELSE 0 END AS INT) AS bin,
      |  count(*) AS n,
      |  CAST(min(d.n_chars) AS BIGINT) AS min_chars,
      |  CAST(max(d.n_chars) AS BIGINT) AS max_chars
      |FROM documents d JOIN e ON d.lang = e.lang
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)) {
    (spark, dir) =>
      val docs = table(spark, dir, "documents")
      val edges = docs.groupBy("lang").agg(
        expr("percentile(n_chars, 0.25)").as("q1"),
        expr("percentile(n_chars, 0.50)").as("q2"),
        expr("percentile(n_chars, 0.75)").as("q3"))
      docs.join(broadcast(edges), "lang")
        .withColumn("bin", (lit(1)
          + when(col("n_chars") > col("q1"), 1).otherwise(0)
          + when(col("n_chars") > col("q2"), 1).otherwise(0)
          + when(col("n_chars") > col("q3"), 1).otherwise(0)).cast("int"))
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("lang", "bin")
  }

  /** x50: per-source survivorship — the URL/source-canonicalization dedup
    * step: one canonical document per source, chosen by QUALITY (longest
    * doc, ties to the smaller doc_id) rather than x27's min-id. Spark-first
    * argmax: `max_by` over a combined integer key (n_chars·10⁷ − doc_id —
    * unique per doc, so the argmax is total and both engines agree without
    * struct-ordering support), partial-merging hash aggregate, no window,
    * no self-join. The per-source report carries the row/char reduction the
    * dedup implies. */
  val x50 = DQ("x50_source_survivor", Some(
    """SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(max(n_chars) AS BIGINT) AS max_chars,
      |  arg_max(doc_id, n_chars * 10000000 - doc_id) AS survivor_id,
      |  CAST(sum(n_chars) - max(n_chars) AS BIGINT) AS chars_dropped
      |FROM documents GROUP BY source ORDER BY source""".stripMargin)) {
    (spark, dir) =>
      table(spark, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          max("n_chars").as("max_chars"),
          max_by(col("doc_id"), col("n_chars") * 10000000L - col("doc_id"))
            .as("survivor_id"),
          (sum("n_chars") - max("n_chars")).as("chars_dropped"))
        .orderBy("source")
  }

  /** x51: content-defined chunking — the dedup-friendly chunker (FastCDC/
    * rsync family): a chunk boundary falls wherever the hash of the 8-char
    * window starting at that position has a `00` hex prefix (P=1/256 per
    * position), so boundaries move WITH content and an insertion only
    * reshapes nearby chunks instead of shifting every fixed-size chunk
    * after it (T1 is the fixed-size reference chunker; this is its
    * content-addressed sibling). Hash = md5 window prefix — the engine-
    * portable stand-in for a rolling Rabin hash; everything computes
    * in-row (no explode, no shuffle, scan → project → final sort). Guard:
    * Spark's `sequence(1, n)` DESCENDS for n < 1, so short docs pin to an
    * empty boundary list explicitly. */
  val x51 = DQ("x51_cdc_chunks", Some(
    """WITH p AS (
      |  SELECT doc_id, length(text) AS n,
      |         list_filter(generate_series(1, greatest(length(text)-7, 0)),
      |                     i -> substring(md5(substring(text, i, 8)), 1, 2) = '00') AS pos
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, n,
      |         list_concat(list_concat([0], pos), [n]) AS bounds
      |  FROM p),
      |l AS (
      |  SELECT doc_id, n,
      |         list_transform(generate_series(1, len(bounds)-1),
      |                        j -> bounds[j+1] - bounds[j]) AS lens
      |  FROM b)
      |SELECT doc_id,
      |  CAST(len(lens) AS BIGINT) AS n_chunks,
      |  CAST(list_min(lens) AS BIGINT) AS min_len,
      |  CAST(list_max(lens) AS BIGINT) AS max_len,
      |  round(CAST(n AS DOUBLE) / len(lens), 6) AS avg_len
      |FROM l ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val t = col("text")
      val pos = when(length(t) >= 8,
        filter(sequence(lit(1), length(t) - 7),
          i => substring(md5(t.substr(i, lit(8))), 1, 2) === "00"))
        .otherwise(array().cast("array<int>"))
      // one md5 per character position is the CPU-heavy per-row stage the
      // spread helper exists for: the compact scan alone would pin it to
      // 1-2 cores (x51 measured 4.1 s unspread vs sub-second spread)
      spread(table(spark, dir, "documents"))
        .withColumn("n", length(t))
        .withColumn("bounds",
          concat(array(lit(0)), pos, array(col("n"))))
        .withColumn("lens", transform(sequence(lit(1), size(col("bounds")) - 1),
          j => element_at(col("bounds"), j + 1) - element_at(col("bounds"), j)))
        .select(col("doc_id"),
          size(col("lens")).cast("bigint").as("n_chunks"),
          array_min(col("lens")).cast("bigint").as("min_len"),
          array_max(col("lens")).cast("bigint").as("max_len"),
          round(col("n").cast("double") / size(col("lens")), 6).as("avg_len"))
        .orderBy("doc_id")
  }

  /** x52: cross-document chunk-level dedup over the x51 CDC boundaries — the
    * storage dedup the content-defined chunker exists FOR (reference chunks
    * files precisely so repeated content ships/stores once; cf. chunk hash
    * use in `data_file_io/entity/data_file_chunk.py`). Every chunk hashes,
    * the corpus groups by hash, and the result is the multiplicity histogram
    * plus the bytes a dedup store would save at each multiplicity. Plan: one
    * scan → in-row boundary/chunk derivation → explode → two hash
    * aggregations (the second over ≤ a handful of multiplicity rows). At
    * 100 TB this is THE chunk-store sizing query: the explode shuffles only
    * (hash, len) pairs — 40 bytes/chunk, not the chunk bytes — and the
    * md5 would swap for xxhash64 (same plan, engine-local hash). */
  val x52 = DQ("x52_chunk_dedup", Some(
    """WITH p AS (
      |  SELECT doc_id, text, length(text) AS n,
      |         list_filter(generate_series(1, greatest(length(text)-7, 0)),
      |                     i -> substring(md5(substring(text, i, 8)), 1, 2) = '00') AS pos
      |  FROM documents),
      |b AS (SELECT text, list_concat(list_concat([0], pos), [n]) AS bounds FROM p),
      |c AS (
      |  SELECT unnest(list_transform(generate_series(1, len(bounds)-1),
      |                j -> substring(text, bounds[j]+1, bounds[j+1]-bounds[j]))) AS chunk
      |  FROM b),
      |h AS (SELECT md5(chunk) AS h, length(chunk) AS len, count(*) AS copies
      |      FROM c GROUP BY 1, 2)
      |SELECT CAST(copies AS BIGINT) AS copies,
      |  CAST(count(*) AS BIGINT) AS n_hashes,
      |  CAST(sum(len * (copies - 1)) AS BIGINT) AS bytes_saved
      |FROM h GROUP BY copies ORDER BY copies""".stripMargin)) {
    (spark, dir) =>
      val t = col("text")
      val pos = when(length(t) >= 8,
        filter(sequence(lit(1), length(t) - 7),
          i => substring(md5(t.substr(i, lit(8))), 1, 2) === "00"))
        .otherwise(array().cast("array<int>"))
      spread(table(spark, dir, "documents"))
        .withColumn("bounds", concat(array(lit(0)), pos, array(length(t))))
        .select(explode(transform(sequence(lit(1), size(col("bounds")) - 1),
          j => t.substr(element_at(col("bounds"), j) + 1,
            element_at(col("bounds"), j + 1) - element_at(col("bounds"), j))))
          .as("chunk"))
        .select(md5(col("chunk")).as("h"), length(col("chunk")).as("len"))
        .groupBy("h", "len").agg(count(lit(1)).as("copies"))
        .groupBy("copies")
        .agg(count(lit(1)).as("n_hashes"),
          sum(col("len").cast("bigint") * (col("copies") - 1)).as("bytes_saved"))
        .orderBy("copies")
  }

  /** x53: n-gram document-frequency spectrum — how many word-8-grams occur
    * in exactly d documents, with the incidence mass d·n_grams each level
    * carries (the corpus-duplication fingerprint: a long d=1 tail is clean
    * data, weight at d≥2 is boilerplate; the spectrum is what picks the df
    * cutoffs x46's per-doc fraction then applies). Same single shingle pass
    * as x46; the spectrum aggregation collapses the gram table to ≤ a few
    * hundred rows before the final (trivial) sort. 100 TB: gram → 64-bit
    * hash, and the df aggregation is the only full-width shuffle. */
  val x53 = DQ("x53_gram_spectrum", Some(
    """WITH t0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    CAST('0x' || substr(md5(array_to_string(l[i:i+7], ' ')), 1, 15)
      |         AS BIGINT) AS gk
      |  FROM (SELECT doc_id, l,
      |               unnest(generate_series(1, greatest(len(l)-7, 0))) AS i
      |        FROM t0) t1),
      |df AS (SELECT gk, count(*) AS d FROM sh GROUP BY gk)
      |SELECT CAST(d AS BIGINT) AS df,
      |  CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(d * count(*) AS BIGINT) AS mass
      |FROM df GROUP BY d ORDER BY df""".stripMargin)) {
    (spark, dir) =>
      wordShinglesHashed(spark, dir, 8)
        .groupBy("gk").agg(count(lit(1)).as("d"))
        .groupBy("d").agg(count(lit(1)).as("n_grams"))
        .select(col("d").as("df"), col("n_grams"),
          (col("d") * col("n_grams")).as("mass"))
        .orderBy("df")
  }

  /** x54: unpivot/melt — the wide→long reshape (Spark `Dataset.unpivot`,
    * the inverse of x20's pivot): per-language metric columns become
    * (lang, metric, value) rows, the shape metric stores and plotting
    * layers ingest. Oracle = portable UNION ALL (one branch per metric).
    * All metrics cast to DOUBLE before melting — unpivot requires a common
    * value type, and the sums here are small enough to be IEEE-exact.
    * Scale: the aggregation is the only shuffle; the melt itself is a
    * per-row expand of an already-tiny grouped result. */
  val x54 = DQ("x54_unpivot_metrics", Some(
    """WITH w AS (
      |  SELECT lang, CAST(count(*) AS DOUBLE) AS n_docs,
      |         round(avg(n_chars), 6) AS avg_chars,
      |         CAST(max(n_chars) AS DOUBLE) AS max_chars
      |  FROM documents GROUP BY lang)
      |SELECT lang, 'n_docs' AS metric, n_docs AS value FROM w
      |UNION ALL SELECT lang, 'avg_chars' AS metric, avg_chars AS value FROM w
      |UNION ALL SELECT lang, 'max_chars' AS metric, max_chars AS value FROM w
      |ORDER BY lang, metric""".stripMargin)) {
    (spark, dir) =>
      table(spark, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).cast("double").as("n_docs"),
          round(avg("n_chars"), 6).as("avg_chars"),
          max("n_chars").cast("double").as("max_chars"))
        .unpivot(Array(col("lang")),
          Array(col("n_docs"), col("avg_chars"), col("max_chars")),
          "metric", "value")
        .orderBy("lang", "metric")
  }

  /** x55: normalization-collapsed exact dedup — the C4/Gopher step between
    * raw exact dedup (q25: byte-identical only) and MinHash near-dup (x02):
    * casefold, collapse every non-alphanumeric run to one space, trim, then
    * hash. Catches the "same text, different whitespace/punctuation/case"
    * duplicates that dominate scraped corpora. One window over the 16-byte
    * digest (count + min per sig — a single hash exchange, no self-join);
    * at 100 TB the digest shuffle carries 16 bytes + doc_id per row and the
    * normalized text itself never leaves the scan stage. */
  val x55 = DQ("x55_norm_dedup", Some(
    """WITH n AS (
      |  SELECT doc_id,
      |         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS sig
      |  FROM documents)
      |SELECT doc_id, sig,
      |  CAST(count(*) OVER (PARTITION BY sig) AS BIGINT) AS cluster_size,
      |  CAST(CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY sig)
      |       THEN 1 ELSE 0 END AS INT) AS is_canonical
      |FROM n ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val w = Window.partitionBy("sig")
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"),
          md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("sig"))
        .withColumn("cluster_size", count(lit(1)).over(w).cast("bigint"))
        .withColumn("is_canonical",
          when(col("doc_id") === min("doc_id").over(w), 1).otherwise(0).cast("int"))
        .orderBy("doc_id")
  }

  /** x59: exact edit-distance verification of the LSH candidate pairs —
    * the estimate-everywhere / verify-candidates step a fuzzy-dedup pass
    * ends with (x43 calibrates the MinHash estimate the same way; this is
    * the character-level ground truth). The candidate list is tiny after
    * banding, so it BROADCASTS — twice — and the corpus is never shuffled:
    * two broadcast joins fetch both texts, then `levenshtein` (identical
    * classic-DP definition in both engines) runs per pair. At 100 TB, if
    * the candidate set outgrows broadcast, both fetches degrade to shuffle
    * hash joins keyed by doc_id with the same semantics. */
  val x59 = DQ("x59_editdist_verify", Some(
    s"""WITH $lshBandsCte,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
       |SELECT p.id1, p.id2,
       |  CAST(levenshtein(d1.text, d2.text) AS INT) AS dist,
       |  CAST(CASE WHEN levenshtein(d1.text, d2.text) <= 25
       |       THEN 1 ELSE 0 END AS INT) AS is_dup
       |FROM pairs p
       |JOIN documents d1 ON d1.doc_id = p.id1
       |JOIN documents d2 ON d2.doc_id = p.id2
       |ORDER BY id1, id2""".stripMargin)) {
    (spark, dir) =>
      val bands = lshBands(spark, dir)
      val a = bands.select(col("doc_id").as("id1"), col("band"), col("sig"))
      val b = bands.select(col("doc_id").as("id2"), col("band").as("band2"),
        col("sig").as("sig2"))
      val pairs = a.join(b, col("band") === col("band2") && col("sig") === col("sig2")
          && col("id1") < col("id2"))
        .select("id1", "id2").distinct()
      val docs = table(spark, dir, "documents").select("doc_id", "text")
      // the broadcast plan keeps the corpus UNSHUFFLED through both joins
      // (candidates ∝ near-dup density, tiny next to the corpus). The
      // SCALE.md study measured the alternative: un-hinted AQE flips both
      // joins to shuffle at 10×+ and costs 5× there (15.3 s vs 2.9 s),
      // winning only 1.4× at 100× (35.8 s vs 49.2 s) where the candidate
      // texts' broadcast nears its limit — so broadcast stays the declared
      // plan, and a corpus whose candidate set outgrows broadcast should
      // drop the hints and take the shuffle-join shape. (Round 16 also
      // A/B'd a one-scan variant — candidate ids broadcast into a single
      // text fetch, both pair sides reading the materialized (id, text)
      // frame: ~2.1 → ~2.5 s, and ~3.8 s with the pair list checkpointed;
      // the extra materialization jobs cost more than the second
      // columnar scan saves at any SF where the candidates broadcast, so
      // the two-scan broadcast chain stays.)
      val withT1 = docs.join(broadcast(pairs), col("doc_id") === col("id1"))
        .select(col("id1"), col("id2"), col("text").as("t1"))
      docs.join(broadcast(withT1), col("doc_id") === col("id2"))
        .select(col("id1"), col("id2"),
          levenshtein(col("t1"), col("text")).cast("int").as("dist"))
        // derive the flag from the computed column: the O(len²) edit
        // distance evaluates ONCE per pair, not twice
        .select(col("id1"), col("id2"), col("dist"),
          when(col("dist") <= 25, 1).otherwise(0).cast("int").as("is_dup"))
        .orderBy("id1", "id2")
  }

  /** x60: gear rolling-hash CDC boundaries via the native
    * [[graft.functions.GearBoundaries]] expression — the O(1)-per-byte
    * upgrade of x51's md5-per-position rule (one 64-bit shift+add per
    * character instead of an md5 over an 8-char window). Mask = 6 bits →
    * expected chunk 64 chars, matching the fixed chunker's granularity.
    * The oracle reproduces the masked hash as a 6-term window sum mod 64
    * (equal to the full 64-bit rolling value mod 64: mod distributes over
    * the sum and older shifted terms vanish mod 2^6), with GEAR[c] parsed
    * from md5's first 12 hex digits. In-row, shuffle-free up to the output
    * sort; the spec pins expression-vs-brute-force equality and the
    * whole-stage-codegen span. */
  val x60 = DQ("x60_gear_cdc", Some(
    """WITH chars AS (
      |  SELECT doc_id, CAST(i AS INT) AS i, substring(text, CAST(i AS INT), 1) AS ch
      |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
      |        FROM documents) t),
      |g AS (
      |  SELECT doc_id, i,
      |    CAST(list_sum(list_transform(generate_series(1, 12),
      |      k -> (strpos('0123456789abcdef', substring(md5(ch), CAST(k AS INT), 1)) - 1)
      |           * (CAST(1 AS BIGINT) << CAST(4*(12-k) AS INT)))) AS BIGINT) AS gear
      |  FROM chars),
      |b AS (
      |  SELECT a.doc_id, a.i
      |  FROM g a JOIN g w ON w.doc_id = a.doc_id AND w.i BETWEEN a.i - 5 AND a.i
      |  GROUP BY a.doc_id, a.i
      |  HAVING sum(w.gear * (CAST(1 AS BIGINT) << CAST(a.i - w.i AS INT))) % 64 = 0)
      |SELECT d.doc_id, CAST(count(b.i) AS INT) AS n_cuts,
      |  CAST(min(b.i) AS INT) AS first_cut, CAST(max(b.i) AS INT) AS last_cut
      |FROM documents d LEFT JOIN b ON b.doc_id = d.doc_id
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)) {
    (spark, dir) =>
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"),
          graft.functions.GearFunctions.gearBoundaries(col("text"), 6).as("b"))
        .select(col("doc_id"), size(col("b")).as("n_cuts"),
          array_min(col("b")).as("first_cut"), array_max(col("b")).as("last_cut"))
        .orderBy("doc_id")
  }

  /** x61: string-function sweep II (q23's deferred string leg — the §2.7
    * surface the reference's path/key manipulation leans on): split_part /
    * translate / lpad / rpad / left / right / repeat / reverse / position.
    * Pure per-row projection inside the scan stage; `instr` (Spark) and
    * `strpos` (DuckDB) share 1-based/0-absent semantics. */
  val x61 = DQ("x61_string_sweep", Some(
    """SELECT doc_id,
      |  split_part(source, 'c', 2) AS sp,
      |  translate(lang, 'aeiou', 'AEIOU') AS tr,
      |  lpad(CAST(doc_id % 1000 AS VARCHAR), 6, '0') AS lp,
      |  rpad(lang, 5, '.') AS rp,
      |  left(text, 10) AS l10,
      |  right(text, 10) AS r10,
      |  repeat(lang, 3) AS rep,
      |  reverse(lang) AS rev,
      |  CAST(strpos(text, 'data') AS INT) AS pos_data
      |FROM documents ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      table(spark, dir, "documents")
        .select(col("doc_id"),
          expr("split_part(source, 'c', 2)").as("sp"),
          translate(col("lang"), "aeiou", "AEIOU").as("tr"),
          lpad((col("doc_id") % 1000).cast("string"), 6, "0").as("lp"),
          rpad(col("lang"), 5, ".").as("rp"),
          expr("left(text, 10)").as("l10"),
          expr("right(text, 10)").as("r10"),
          repeat(col("lang"), 3).as("rep"),
          reverse(col("lang")).as("rev"),
          instr(col("text"), "data").cast("int").as("pos_data"))
        .orderBy("doc_id")
  }

  /** x88: BM25 relevance scoring (Robertson k1=1.2, b=0.75; Lucene's
    * `ln(1 + (N−df+0.5)/(df+0.5))` idf) — x23's TF-IDF upgraded to the
    * ranking function retrieval pipelines actually serve. Corpus stats
    * (N, avgdl) are a 1-row aggregate broadcast into the score expression;
    * df is a tiny per-term count broadcast-joined back; tf and doc length
    * come from map-side-combining aggs over one tokens pass. Top-5 per term
    * via `min_by` on the (−score, doc_id) struct would need a top-K agg —
    * here a per-term window over the scored frame stays cheap because only
    * docs CONTAINING a query term survive the tf semi-filter long before
    * the sort. round(…,4) absorbs cross-engine last-ulp `ln` drift
    * (verified stable at all three fixture SFs). */
  val x88 = DQ("x88_bm25", Some(
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                    x -> x <> '')) AS tok
      |  FROM documents),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
      |       WHERE tok IN ('data', 'spark', 'join') GROUP BY 1, 2),
      |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT t.tok AS term, t.doc_id,
      |         ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
      |         (CAST(t.tf AS DOUBLE) * 2.2) /
      |         (t.tf + 1.2 * (0.25 + 0.75 * (l.dl / s.avgdl))) AS score
      |  FROM tf t JOIN df d USING (tok) JOIN dl l USING (doc_id)
      |  CROSS JOIN stats s),
      |r AS (SELECT term, doc_id, score,
      |             row_number() OVER (PARTITION BY term
      |                                ORDER BY score DESC, doc_id) AS rn
      |      FROM scored)
      |SELECT term, doc_id, round(score, 4) AS score FROM r WHERE rn <= 5
      |ORDER BY term, doc_id""".stripMargin)) {
    (spark, dir) =>
      val queryTerms = Seq("data", "spark", "join")
      val toks = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
      val tf = toks.filter(col("tok").isin(queryTerms: _*))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val scored = tf
        .join(broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("tok").as("term"), col("doc_id"),
          (log(lit(1) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
            (col("tf").cast("double") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
            .as("score"))
      val w = Window.partitionBy("term")
        .orderBy(col("score").desc, col("doc_id"))
      scored
        .select(col("term"), col("doc_id"), round(col("score"), 4).as("score"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 5).drop("rn")
        .orderBy("term", "doc_id")
  }

  /** x93: adjacent-pair (bigram) frequency — the counting step of one BPE
    * merge round (the tokenizer-training inner loop): per language, the 5
    * most frequent adjacent token pairs. Pairs are built IN-ROW by zipping
    * the token array against its own tail (`zip_with(slice, slice)`), so
    * nothing widens before the map-side-combining count — the shuffle
    * carries (lang, pair) partial counts, never positions. A full BPE
    * trainer is this query in x37's driver-controlled fixpoint loop: count
    * → merge the argmax pair → re-tokenize → repeat. */
  val x93 = DQ("x93_bigram_pairs", Some(
    """WITH t AS (
      |  SELECT doc_id, lang,
      |         list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                     x -> x <> '') AS l
      |  FROM documents),
      |pairs AS (
      |  SELECT lang, l[i] || ' ' || l[i+1] AS pair
      |  FROM t, unnest(generate_series(1, len(l)-1)) AS u(i) WHERE len(l) > 1),
      |counted AS (
      |  SELECT lang, pair, CAST(count(*) AS BIGINT) AS n,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY count(*) DESC, pair) AS rn
      |  FROM pairs GROUP BY 1, 2)
      |SELECT lang, pair, n FROM counted WHERE rn <= 5
      |ORDER BY lang, pair""".stripMargin)) {
    (spark, dir) =>
      val t = spread(table(spark, dir, "documents"))
        .select(col("lang"), tokens(col("text")).as("l"))
        .filter(size(col("l")) > 1)
      val pairs = t.select(col("lang"), explode(zip_with(
        slice(col("l"), lit(1), size(col("l")) - 1),
        expr("slice(l, 2, size(l) - 1)"),
        (a, b) => concat(a, lit(" "), b))).as("pair"))
      val w = Window.partitionBy("lang")
        .orderBy(col("n").desc, col("pair"))
      pairs.groupBy("lang", "pair").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5).drop("rn")
        .orderBy("lang", "pair")
  }

  /** x94: incremental (new-batch-vs-corpus) near-dup detection — the daily
    * ingest question "which of today's documents already exist in the
    * corpus", as distinct from x02's corpus-internal pairing. The corpus
    * side is a band-signature STORE (here derived from the `doc_id%10<8`
    * slice; in production persisted and bucketed by `(band, sig)` so the
    * daily join co-locates with zero corpus re-scan — only the new batch
    * computes signatures each day, the 100 TB property that makes
    * incremental dedup cheaper than re-running x02 over corpus+batch).
    * Same MinHash/LSH scheme as x02/x27/NearDupStream, so batch, stream,
    * and incremental paths can never disagree on candidacy. */
  val x94 = DQ("x94_incremental_dedup", Some(
    s"""WITH $lshBandsCte,
       |hits AS (
       |  SELECT a.doc_id, b.doc_id AS corpus_id
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
       |  WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 < 8)
       |SELECT doc_id, CAST(count(DISTINCT corpus_id) AS BIGINT) AS n_matches
       |FROM hits GROUP BY 1 ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val bands = lshBands(spark, dir)
      val newB = bands.filter(col("doc_id") % 10 >= 8)
      val oldB = bands.filter(col("doc_id") % 10 < 8)
        .select(col("doc_id").as("corpus_id"), col("band").as("band2"),
          col("sig").as("sig2"))
      newB.join(oldB, col("band") === col("band2") && col("sig") === col("sig2"))
        .groupBy("doc_id")
        .agg(countDistinct("corpus_id").as("n_matches"))
        .orderBy("doc_id")
  }

  /** x106: duplicated-span SCRUB — the transform x46 only diagnoses: every
    * token covered by a word-8-gram that also occurs in another document is
    * REMOVED, and the cleaned text re-emitted (the token-level form of
    * exact substring deduplication, Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" — their suffix-array
    * spans become positional n-gram windows here). Pipeline: positional
    * grams generated IN-ROW (one shingle pass, x46's posture), the
    * cross-doc duplicate gram set via a two-level distinct-free agg, a
    * semi-join hands each doc its duplicated window starts, windows expand
    * to covered positions in-row, and the cleaned text is one ordered
    * string_agg over the surviving positions. At 100 TB the gram key
    * becomes a 64-bit hash (identical plan, 10× narrower exchange) and the
    * semi-join stays the only corpus-width shuffle. Oracle reproduces the
    * whole transform — including the re-assembled text — in SQL. */
  val x106 = DQ("x106_dup_span_scrub", Some(
    """WITH t0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, u.i AS j, l[u.i] AS tok
      |  FROM t0, unnest(generate_series(1, len(l))) AS u(i)),
      |gpos AS (
      |  SELECT doc_id, u.i AS i,
      |    CAST('0x' || substr(md5(array_to_string(l[u.i:u.i+7], ' ')), 1, 15)
      |         AS BIGINT) AS gk
      |  FROM t0, unnest(generate_series(1, greatest(len(l) - 7, 0))) AS u(i)),
      |df AS (
      |  SELECT gk, count(*) AS d
      |  FROM (SELECT DISTINCT doc_id, gk FROM gpos) GROUP BY gk),
      |starts AS (
      |  SELECT gp.doc_id, gp.i FROM gpos gp JOIN df ON gp.gk = df.gk
      |  WHERE df.d >= 2),
      |cov AS (
      |  SELECT DISTINCT doc_id, i + o.o AS j
      |  FROM starts, unnest(generate_series(0, 7)) AS o(o)),
      |kept AS (
      |  SELECT t.doc_id, t.j, t.tok FROM toks t
      |  ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.j = c.j),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |         string_agg(tok, ' ' ORDER BY j) AS cleaned
      |  FROM kept GROUP BY doc_id),
      |n AS (SELECT doc_id, len(l) AS n_tokens FROM t0)
      |SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
      |       CAST(n.n_tokens - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
      |       coalesce(a.cleaned, '') AS cleaned
      |FROM n LEFT JOIN agg a USING (doc_id) ORDER BY n.doc_id""".stripMargin)) {
    (spark, dir) =>
      // tokenized once (cut): t0 feeds the gram-position explode, the token
      // posexplode AND the final length projection. A/B (CHANGES.md): cut
      // 1.88 s, no cut 2.04 s, repartition 2.31 s
      val t0 = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), Core.tokens(col("text")).as("l"))
        .localCheckpoint()
      // positional 8-grams hashed IN-ROW to 60-bit md5-prefix keys (the
      // oracle mirrors the hash, so the corpus-width exchanges — distinct,
      // df count, semi-join — carry 8-byte keys, not ~50-byte grams).
      // Guarded like Core.wordNgrams: for docs with < 8 tokens the naive
      // sequence(1, size-7) would DESCEND (sequence(1,0) = [1,0]) and
      // slice(l, 0, 8) throws — emit an empty gram array instead.
      val gpos = t0.select(col("doc_id"),
          explode(expr(
            """CASE WHEN size(l) >= 8 THEN
              |  transform(sequence(1, size(l) - 7),
              |    i -> struct(i AS i,
              |      cast(conv(substr(md5(array_join(slice(l, i, 8), ' ')), 1, 15),
              |                16, 10) as bigint) AS gk))
              |ELSE CAST(array() AS array<struct<i: int, gk: bigint>>) END"""
              .stripMargin)).as("s"))
        .select(col("doc_id"), col("s.i").as("i"), col("s.gk").as("gk"))
      // cross-doc duplicate grams: distinct (doc, gk) pairs collapse
      // map-side, then a plain count — no distinct-aggregate machinery
      val dupG = gpos.select("gk", "doc_id").distinct()
        .groupBy("gk").agg(count(lit(1)).as("d"))
        .filter(col("d") >= 2).select("gk")
      val cov = gpos.join(dupG, Seq("gk"), "left_semi")
        .select(col("doc_id"), explode(expr("sequence(i, i + 7)")).as("j"))
        .distinct()
      val toks = t0.select(col("doc_id"),
          posexplode(col("l")).as(Seq("p", "tok")))
        .select(col("doc_id"), (col("p") + 1).as("j"), col("tok"))
      val agg = toks.join(cov, Seq("doc_id", "j"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          expr("array_join(transform(array_sort(collect_list(struct(j, tok)))," +
            " s -> s.tok), ' ')").as("cleaned"))
      t0.select(col("doc_id"), size(col("l")).cast("long").as("n_tokens"))
        .join(agg, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("cleaned"), lit("")).as("cleaned"))
        .orderBy("doc_id")
  }

  /** x109: unigram language-model negative log-likelihood per document —
    * the CCNet-style model-based quality filter (Wenzek et al. 2020 score
    * documents with a KenLM perplexity; the unigram LM is the same shape
    * with an order-1 model, trained here on the corpus itself). Two passes:
    * pass 1 aggregates the corpus LM (token → count; map-side combining
    * collapses each partition to its vocabulary, so the exchange carries
    * O(vocab) rows, not O(tokens)); pass 2 re-scans with the LM BROADCAST —
    * at 100 TB the token stream never shuffles, each doc's score reduces
    * map-side from its own `(tok, tf)` rows. The per-token nll is weighted
    * by tf before one bounded per-doc sum (≤ vocab terms), and the 6-dp
    * round absorbs summation-order ulps exactly as the other double scores
    * in this registry do. */
  val x109 = DQ("x109_unigram_nll", Some(
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                    x -> x <> '')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
      |lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM lm),
      |scored AS (
      |  SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_toks,
      |         sum(t.tf * ln(CAST(total AS DOUBLE) / l.cnt)) / sum(t.tf) AS nll
      |  FROM tf t JOIN lm l USING (tok) CROSS JOIN tot GROUP BY 1)
      |SELECT doc_id, n_toks, round(nll, 6) AS nll
      |FROM scored ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val toks = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      // unigram LM folded from tf (Σ tf per tok ≡ corpus count per tok):
      // one tokenize+explode pass, one shared exchange (guide §2.3)
      val lm = tf.groupBy("tok").agg(sum("tf").as("cnt"))
      val tot = lm.agg(sum("cnt").as("total"))
      tf.join(broadcast(lm), "tok")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(sum("tf").as("n_toks"),
          (sum(col("tf") * log(col("total").cast("double") / col("cnt"))) /
            sum("tf")).as("nll"))
        .select(col("doc_id"), col("n_toks"), round(col("nll"), 6).as("nll"))
        .orderBy("doc_id")
  }

  /** x111: DSIR-style data-selection importance score (Xie et al. 2023,
    * arXiv:2302.03169 — importance resampling by the ratio of a TARGET
    * domain's n-gram LM to the RAW corpus LM; here the target is the
    * English slice, the features are the shared unigram tokenization, and
    * both LMs are add-1 smoothed over the shared vocabulary). One token
    * pass builds BOTH models as conditional aggregates of the same
    * `(tok, lang)` stream (count + count-if-target), so the raw/target
    * split costs no second scan; the per-doc length-normalized log-ratio
    * then reduces map-side against the broadcast LM exactly as x109. The
    * score feeds the existing deterministic samplers (x36 quota / x79
    * A-RES) as the selection weight — scoring and sampling stay separate
    * operators so each keeps its own oracle. */
  val x111 = DQ("x111_dsir_importance", Some(
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                          x -> x <> '')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
      |lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS cr,
      |              CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS ct
      |       FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt,
      |               CAST(count(*) AS BIGINT) AS v FROM lm),
      |scored AS (
      |  SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_toks,
      |         sum(t.tf * (ln((l.ct + 1.0) / (tt + v)) - ln((l.cr + 1.0) / (tr + v))))
      |           / sum(t.tf) AS dsir
      |  FROM tf t JOIN lm l USING (tok) CROSS JOIN tot GROUP BY 1)
      |SELECT doc_id, n_toks, round(dsir, 6) AS dsir
      |FROM scored ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val toks = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val lm = toks.groupBy("tok").agg(
        count(lit(1)).as("cr"),
        count_if(col("lang") === "en").as("ct"))
      val tot = lm.agg(sum("cr").as("tr"), sum("ct").as("tt"), count(lit(1)).as("v"))
      tf.join(broadcast(lm), "tok")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(sum("tf").as("n_toks"),
          (sum(col("tf") *
            (log((col("ct") + 1.0) / (col("tt") + col("v"))) -
             log((col("cr") + 1.0) / (col("tr") + col("v"))))) /
            sum("tf")).as("dsir"))
        .select(col("doc_id"), col("n_toks"), round(col("dsir"), 6).as("dsir"))
        .orderBy("doc_id")
  }

  /** x112: inverted-index construction — the posting-list build behind
    * BM25/keyword retrieval serving (x88 scores ad hoc; this MATERIALIZES
    * the index): per term, document frequency, total term frequency, and
    * the doc_id-ordered posting list (canonical `doc:tf` string — the
    * gate-stable serialization; the array<struct> form is one cast away).
    * One explode + two hash aggregations: `(doc, tok) → tf` collapses
    * map-side before anything wide, so the term exchange carries one row
    * per posting (the information-theoretic minimum for a term-partitioned
    * index — this IS the classic MapReduce index build, term-sharded and
    * skew-tolerant because a hot term's postings still build inside one
    * ObjectHashAgg group). `sort_array` orders each posting list in-row;
    * at serving time the table is written bucketed by term so lookups
    * prune to one file group. */
  val x112 = DQ("x112_inverted_index", Some(
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                    x -> x <> '')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2)
      |SELECT tok, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
      |       string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
      |FROM tf GROUP BY tok ORDER BY tok""".stripMargin)) {
    (spark, dir) =>
      val tf = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      tf.groupBy("tok")
        .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"),
          array_join(transform(
            sort_array(collect_list(struct(col("doc_id"), col("tf")))),
            p => concat(p.getField("doc_id").cast("string"), lit(":"),
              p.getField("tf").cast("string"))), ",").as("postings"))
        .orderBy("tok")
  }

  /** x113: vocabulary-indexed encoding — the tokenize→id step every
    * training pipeline runs before packing examples (the WordPiece/BPE
    * *apply* stage with a frequency-built vocabulary; x93 trains the BPE
    * merges, this materializes id sequences). Vocabulary = tokens with
    * corpus count ≥ 5, id = frequency rank (count desc, tok — stable);
    * everything else encodes as OOV id 0. Scale shape: the vocab is
    * O(distinct tokens) — built with one map-side-combining agg, ranked by
    * [[graft.batch.Joins.globalRank]] (range-partitioned two-pass; NO
    * single-partition window even at billion-token vocabularies), then
    * BROADCAST back so the corpus token stream is encoded map-side and the
    * only corpus-width exchange is the per-doc gather on doc_id. */
  val x113 = DQ("x113_vocab_encode", Some(
    """WITH t0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, u.i AS pos, l[u.i] AS tok
      |  FROM t0, unnest(generate_series(1, len(l))) AS u(i)),
      |lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
      |vocab AS (
      |  SELECT tok, CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS id
      |  FROM lm WHERE cnt >= 5),
      |enc AS (
      |  SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
      |  FROM toks t LEFT JOIN vocab v USING (tok))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
      |       CAST(count(*) FILTER (id = 0) AS BIGINT) AS n_oov,
      |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids
      |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val toks = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "tok")))
        .select(col("doc_id"), (col("p") + 1).as("pos"), col("tok"))
      val lm = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val vocab = graft.batch.Joins.globalRank(
          lm.filter(col("cnt") >= 5).withColumn("negc", -col("cnt")),
          32, "negc", "tok")
        .select(col("tok"), col("global_rank").cast("long").as("id"))
      toks.join(broadcast(vocab), Seq("tok"), "left_outer")
        .withColumn("id", coalesce(col("id"), lit(0L)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          count_if(col("id") === 0L).as("n_oov"),
          array_join(transform(
            sort_array(collect_list(struct(col("pos"), col("id")))),
            s => s.getField("id").cast("string")), ",").as("ids"))
        .orderBy("doc_id")
  }

  /** x114: perplexity-bucket assignment — CCNet's head/middle/tail split
    * (Wenzek et al. 2020 bucket documents into thirds by LM perplexity and
    * keep/weight them differently downstream). The score is x109's unigram
    * NLL (rounded 6 dp BEFORE ranking, so both engines rank identical
    * doubles); the global tertile rank routes through
    * [[graft.batch.Joins.globalRank]] — range-partition on (nll, doc_id),
    * rank in parallel, broadcast per-partition offsets — because a
    * row_number() over the whole corpus is exactly the single-partition
    * funnel this registry bans. Tertile edges are integer arithmetic
    * (rank*3 vs n), no percentile-interpolation drift. */
  val x114 = DQ("x114_nll_tertiles", Some(
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                    x -> x <> '')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
      |lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM lm),
      |scored AS (
      |  SELECT t.doc_id,
      |         round(sum(t.tf * ln(CAST(total AS DOUBLE) / l.cnt)) / sum(t.tf), 6) AS nll
      |  FROM tf t JOIN lm l USING (tok) CROSS JOIN tot GROUP BY 1),
      |r AS (SELECT doc_id, nll,
      |             CAST(row_number() OVER (ORDER BY nll, doc_id) AS BIGINT) AS rk,
      |             CAST(count(*) OVER () AS BIGINT) AS n
      |      FROM scored)
      |SELECT doc_id, nll,
      |       CASE WHEN rk * 3 <= n THEN 'head'
      |            WHEN rk * 3 <= 2 * n THEN 'middle'
      |            ELSE 'tail' END AS bucket
      |FROM r ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val toks = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      // unigram LM folded from tf (Σ tf per tok ≡ corpus count per tok):
      // one tokenize+explode pass instead of two (guide §2.3)
      val lm = tf.groupBy("tok").agg(sum("tf").as("cnt"))
      val tot = lm.agg(sum("cnt").as("total"))
      val scored = tf.join(broadcast(lm), "tok")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(round(
          sum(col("tf") * log(col("total").cast("double") / col("cnt"))) /
            sum("tf"), 6).as("nll"))
        // cut: feeds both the global rank and the count. A/B (CHANGES.md):
        // cut 1.13 s, no cut 1.64 s, repartition 1.63 s
        .localCheckpoint()
      val ranked = graft.batch.Joins.globalRank(scored, 32, "nll", "doc_id")
      val n = scored.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n))
        .select(col("doc_id"), col("nll"),
          when(col("global_rank") * 3 <= col("n"), "head")
            .when(col("global_rank") * 3 <= col("n") * 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
  }

  /** x115: PII redaction — the regex scrub every public training-data
    * pipeline runs before release (emails, IPv4s, phone numbers →
    * typed placeholders, with per-doc match counts for the removal
    * report). The fixture corpus is synthetic word-salad with no organic
    * PII, so the query first DERIVES a deterministic PII-bearing suffix
    * from each row (doc_id-keyed email/IP/phone) and then proves the
    * scrub removes exactly what was planted — the redact step itself is
    * three chained `regexp_replace` columns (codegen'd, zero shuffle,
    * order: email → IP → phone so no pattern eats another's match).
    * Patterns stay inside the Java∩RE2 common subset so Spark and DuckDB
    * agree byte-for-byte. */
  val x115 = DQ("x115_pii_redact", Some(
    """WITH ann AS (
      |  SELECT doc_id,
      |         text || ' contact user' || doc_id || '@mail.example.com from 10.'
      |              || (doc_id % 200) || '.0.' || (1 + doc_id % 250)
      |              || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |           AS t
      |  FROM documents),
      |red AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
      |    CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
      |    CAST(len(regexp_extract_all(t, '\+1-555-\d{4}')) AS BIGINT) AS n_phone,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |      '\+1-555-\d{4}', '<PHONE>', 'g') AS redacted
      |  FROM ann)
      |SELECT doc_id, n_email, n_ip, n_phone, redacted
      |FROM red ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phoneRe = "\\+1-555-\\d{4}"
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com from 10."),
            (col("doc_id") % 200).cast("string"), lit(".0."),
            (col("doc_id") % 250 + 1).cast("string"),
            lit(" call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("t"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(emailRe)).cast("long").as("n_email"),
          regexp_count(col("t"), lit(ipRe)).cast("long").as("n_ip"),
          regexp_count(col("t"), lit(phoneRe)).cast("long").as("n_phone"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("t"), lit(emailRe), lit("<EMAIL>")),
              lit(ipRe), lit("<IP>")),
            lit(phoneRe), lit("<PHONE>")).as("redacted"))
        .orderBy("doc_id")
  }

  /** x116: sequence packing layout — assign every document its [start, end)
    * token interval in the concatenated corpus stream and the 512-token
    * training examples it lands in (the packing step that turns a curated
    * corpus into fixed-length LM batches; spanning documents are the ones a
    * packer must split or pad around). The global token offset is an exact
    * distributed prefix sum via [[graft.batch.Joins.globalCumSum]] —
    * range-partition by doc_id, scan within partitions in parallel,
    * broadcast the ≤32 per-partition totals — so the layout never funnels
    * the corpus through one task the way `sum() OVER (ORDER BY …)` would.
    * Everything else is per-row integer arithmetic. */
  val x116 = DQ("x116_sequence_packing", Some(
    """WITH t0 AS (
      |  SELECT doc_id,
      |         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                              x -> x <> '')) AS BIGINT) AS n_toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_toks,
      |         CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |              AS BIGINT) AS start_tok
      |  FROM t0 WHERE n_toks > 0)
      |SELECT doc_id, n_toks, start_tok,
      |       start_tok // 512 AS first_example,
      |       (start_tok + n_toks - 1) // 512 - start_tok // 512 + 1 AS n_examples
      |FROM c ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val t0 = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_toks"))
        .filter(col("n_toks") > 0)
      graft.batch.Joins.globalCumSum(t0, 32, "n_toks", "doc_id")
        .select(col("doc_id"), col("n_toks"), col("cum_before").as("start_tok"))
        .select(col("doc_id"), col("n_toks"), col("start_tok"),
          expr("start_tok div 512").as("first_example"),
          expr("(start_tok + n_toks - 1) div 512 - start_tok div 512 + 1")
            .as("n_examples"))
        .orderBy("doc_id")
  }

  /** x117: Zipf-slope corpus diagnostic — fit `ln(freq) ~ a + b·ln(rank)`
    * over each language's top-100 tokens with the closed-form OLS slope
    * (natural text sits near b ≈ −1; synthetic/templated corpora drift
    * toward 0, making the slope a cheap generation-artifact detector —
    * Zipf 1949, the standard corpus-statistics sanity check). The rank
    * window partitions BY LANGUAGE (parallel across groups — never the
    * global funnel), the top-100 filter bounds the regression input to
    * 100 rows per group, and the OLS sums reduce map-side; everything
    * after the token count is O(languages × 100). */
  val x117 = DQ("x117_zipf_slope", Some(
    """WITH toks AS (
      |  SELECT lang, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                  x -> x <> '')) AS tok
      |  FROM documents),
      |cnt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
      |rk AS (SELECT lang, tok, c,
      |              row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS r
      |       FROM cnt),
      |xy AS (SELECT lang, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
      |       FROM rk WHERE r <= 100)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
      |       round((count(*) * sum(x * y) - sum(x) * sum(y)) /
      |             (count(*) * sum(x * x) - sum(x) * sum(x)), 6) AS zipf_slope
      |FROM xy GROUP BY lang ORDER BY lang""".stripMargin)) {
    (spark, dir) =>
      val cnt = spread(table(spark, dir, "documents"))
        .select(col("lang"), explode(tokens(col("text"))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("lang").orderBy(col("c").desc, col("tok"))
      val xy = cnt.withColumn("r", row_number().over(w))
        .filter(col("r") <= 100)
        .select(col("lang"),
          log(col("r").cast("double")).as("x"),
          log(col("c").cast("double")).as("y"))
      xy.groupBy("lang")
        .agg(count(lit(1)).as("n_terms"),
          round((count(lit(1)) * sum(col("x") * col("y")) - sum("x") * sum("y")) /
            (count(lit(1)) * sum(col("x") * col("x")) - sum("x") * sum("x")), 6)
            .as("zipf_slope"))
        .orderBy("lang")
  }

  /** x120: BPE merge APPLICATION — the encode step paired with x93's
    * distributed merge training (Sennrich et al. 2016; `batch/Bpe.scala`
    * trains with full recounting between merges, this query applies a
    * RANKED ONE-SHOT merge list — the top-8 corpus character bigrams in one
    * count, applied in rank order without recounting — so the whole
    * operator, training included, stays oracle-expressible). Tokens render
    * as delimiter-framed symbol strings (`low` → `|l|o|w|`) and each merge
    * is one plain leftmost-nonoverlapping `replace` of `|a|b|` → `|ab|` —
    * exactly BPE's greedy left-to-right pass, and symbol boundaries make
    * false matches inside already-merged symbols impossible. Scale shape:
    * the pair count collapses map-side to ≤26² rows, the 8-merge table
    * broadcasts as ONE array row, and the encode folds IN-ROW over it —
    * per-doc map work, no shuffle after the count. */
  val x120 = DQ("x120_bpe_apply", Some(
    """WITH t0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |toks AS (SELECT unnest(l) AS tok FROM t0),
      |pc AS (
      |  SELECT substr(tok, u.i, 1) AS a, substr(tok, u.i + 1, 1) AS b,
      |         count(*) AS c
      |  FROM toks, unnest(generate_series(1, len(tok) - 1)) AS u(i)
      |  GROUP BY 1, 2),
      |mr AS (SELECT a, b, row_number() OVER (ORDER BY c DESC, a, b) AS r FROM pc),
      |mw AS (SELECT
      |  max(CASE WHEN r = 1 THEN '|'||a||'|'||b||'|' END) AS p1, max(CASE WHEN r = 1 THEN '|'||a||b||'|' END) AS q1,
      |  max(CASE WHEN r = 2 THEN '|'||a||'|'||b||'|' END) AS p2, max(CASE WHEN r = 2 THEN '|'||a||b||'|' END) AS q2,
      |  max(CASE WHEN r = 3 THEN '|'||a||'|'||b||'|' END) AS p3, max(CASE WHEN r = 3 THEN '|'||a||b||'|' END) AS q3,
      |  max(CASE WHEN r = 4 THEN '|'||a||'|'||b||'|' END) AS p4, max(CASE WHEN r = 4 THEN '|'||a||b||'|' END) AS q4,
      |  max(CASE WHEN r = 5 THEN '|'||a||'|'||b||'|' END) AS p5, max(CASE WHEN r = 5 THEN '|'||a||b||'|' END) AS q5,
      |  max(CASE WHEN r = 6 THEN '|'||a||'|'||b||'|' END) AS p6, max(CASE WHEN r = 6 THEN '|'||a||b||'|' END) AS q6,
      |  max(CASE WHEN r = 7 THEN '|'||a||'|'||b||'|' END) AS p7, max(CASE WHEN r = 7 THEN '|'||a||b||'|' END) AS q7,
      |  max(CASE WHEN r = 8 THEN '|'||a||'|'||b||'|' END) AS p8, max(CASE WHEN r = 8 THEN '|'||a||b||'|' END) AS q8
      |  FROM mr WHERE r <= 8),
      |e AS (
      |  SELECT doc_id, l,
      |    list_transform(l, tok ->
      |      replace(replace(replace(replace(replace(replace(replace(replace(
      |        regexp_replace(tok, '(.)', '|\1', 'g') || '|',
      |        p1, q1), p2, q2), p3, q3), p4, q4),
      |        p5, q5), p6, q6), p7, q7), p8, q8)) AS enc
      |  FROM t0 CROSS JOIN mw)
      |SELECT doc_id, CAST(len(l) AS BIGINT) AS n_toks,
      |       CAST(coalesce(list_sum(list_transform(l, t -> len(t))), 0) AS BIGINT) AS n_chars,
      |       CAST(coalesce(list_sum(list_transform(enc,
      |              s -> len(s) - len(replace(s, '|', '')) - 1)), 0) AS BIGINT) AS n_syms
      |FROM e ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val t0 = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("l"))
      val pairs = t0.select(explode(col("l")).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> " +
            "struct(substr(tok, i, 1) AS a, substr(tok, i + 1, 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b")).agg(count(lit(1)).as("c"))
      // top-8 via TakeOrderedAndProject (parallel partial top-k), then the
      // rank order is frozen by an in-row sort of the 8 survivors — the
      // x105 seed pattern, no global window
      val merges = pairs.orderBy(col("c").desc, col("a"), col("b")).limit(8)
        .agg(sort_array(collect_list(struct((-col("c")).as("nc"),
          col("a"), col("b")))).as("ms"))
        .select(expr("transform(ms, m -> struct(" +
          "concat('|', m.a, '|', m.b, '|') AS pat," +
          " concat('|', m.a, m.b, '|') AS rep))").as("M"))
      t0.crossJoin(broadcast(merges))
        .withColumn("enc", expr(
          """transform(l, tok ->
            |  aggregate(M, concat(regexp_replace(tok, '(.)', '|$1'), '|'),
            |            (acc, m) -> replace(acc, m.pat, m.rep)))""".stripMargin))
        .select(col("doc_id"),
          size(col("l")).cast("long").as("n_toks"),
          expr("aggregate(l, 0L, (acc, t) -> acc + length(t))").as("n_chars"),
          expr("aggregate(enc, 0L, (acc, s) -> " +
            "acc + length(s) - length(replace(s, '|', '')) - 1)").as("n_syms"))
        .orderBy("doc_id")
  }

  /** x121: within-document repetition scrub — remove every token covered
    * by a word bigram that already occurred EARLIER in the same document
    * (the transform behind Gopher's repetition diagnostics, x30: Rae et
    * al. 2022 gate on repeated n-gram fractions; this removes them). The
    * within-doc variant of x106's corpus-wide span scrub with the opposite
    * — and better — scale shape: duplicate detection, coverage expansion,
    * and re-assembly all run IN-ROW (higher-order functions over the token
    * array), so the operator is pure map work — zero shuffle at ANY corpus
    * size, embarrassingly parallel where x106 must exchange gram keys.
    * Window n=2 keeps the demo observable on the synthetic fixture's ~40
    * word vocabulary; production n is a constant swap. */
  val x121 = DQ("x121_selfrep_scrub", Some(
    """WITH t0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, u.i AS i, l[u.i] || ' ' || l[u.i + 1] AS gk
      |  FROM t0, unnest(generate_series(1, len(l) - 1)) AS u(i)),
      |fst AS (SELECT doc_id, gk, min(i) AS mi FROM g GROUP BY 1, 2),
      |dup AS (SELECT g.doc_id, g.i FROM g JOIN fst USING (doc_id, gk)
      |        WHERE g.i > fst.mi),
      |cov AS (SELECT DISTINCT doc_id, i + o.o AS j
      |        FROM dup, unnest(generate_series(0, 1)) AS o(o)),
      |toks AS (SELECT doc_id, u.i AS j, l[u.i] AS tok
      |         FROM t0, unnest(generate_series(1, len(l))) AS u(i)),
      |kept AS (SELECT t.doc_id, t.j, t.tok FROM toks t
      |         ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.j = c.j),
      |agg AS (SELECT doc_id, count(*) AS n_kept,
      |               string_agg(tok, ' ' ORDER BY j) AS cleaned
      |        FROM kept GROUP BY doc_id)
      |SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
      |       CAST(n.n_tokens - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
      |       coalesce(a.cleaned, '') AS cleaned
      |FROM (SELECT doc_id, len(l) AS n_tokens FROM t0) n
      |LEFT JOIN agg a USING (doc_id) ORDER BY n.doc_id""".stripMargin)) {
    (spark, dir) =>
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("l"))
        .withColumn("g", expr(
          """CASE WHEN size(l) >= 2 THEN
            |  transform(sequence(1, size(l) - 1),
            |    i -> struct(i AS i, concat(element_at(l, i), ' ',
            |                               element_at(l, i + 1)) AS gk))
            |ELSE CAST(array() AS array<struct<i: int, gk: string>>) END"""
            .stripMargin))
        // duplicate detection stays in-row but O(G log G), not O(G²): sort
        // the (gk, i) grams — each gram group lands contiguous, first (=
        // earliest) occurrence first — and a window start is a duplicate
        // iff its sorted predecessor carries the same gram
        .withColumn("sg", expr("array_sort(transform(g, s -> struct(s.gk AS gk, s.i AS i)))"))
        .withColumn("cov", expr(
          """CASE WHEN size(sg) >= 1 THEN
            |  array_distinct(flatten(transform(
            |    filter(transform(sequence(1, size(sg)), k -> struct(
            |             element_at(sg, k).i AS i,
            |             k > 1 AND element_at(sg, k).gk = element_at(sg, k - 1).gk AS isdup)),
            |           p -> p.isdup),
            |    p -> sequence(p.i, p.i + 1))))
            |ELSE CAST(array() AS array<int>) END""".stripMargin))
        .select(col("doc_id"),
          size(col("l")).cast("long").as("n_tokens"),
          size(col("cov")).cast("long").as("n_removed"),
          expr("""array_join(transform(
            |  filter(transform(l, (x, i) -> struct(i + 1 AS j, x AS tok)),
            |         p -> NOT array_contains(cov, p.j)),
            |  p -> p.tok), ' ')""".stripMargin).as("cleaned"))
        .orderBy("doc_id")
  }

  /** x128: language↔token mutual information — the corpus-composition
    * diagnostic behind mixture rebalancing (high MI = languages have
    * disjoint vocabularies; MI near 0 = the lang labels explain nothing
    * about token choice — a label-quality smell). Surfaced per language as
    * I(L;T) partial sums: mi_lang = Σ_t p(l,t)·ln(p(l,t)/(p(l)p(t))),
    * which sums across rows to the corpus MI. One token pass builds the
    * joint (lang, tok) counts (map-side combining → the exchange carries
    * O(langs × vocab), never the corpus); the two marginals re-aggregate
    * from the JOINT frame (O(langs×vocab) rows, not a second scan), and
    * the tiny marginal frames broadcast back. The 6-dp round absorbs the
    * per-lang float-sum ulps as in x109/x117. */
  val x128 = DQ("x128_lang_token_mi", Some(
    """WITH toks AS (
      |  SELECT lang, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                  x -> x <> '')) AS tok
      |  FROM documents),
      |lt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1, 2),
      |ml AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM lt GROUP BY 1),
      |mt AS (SELECT tok, CAST(sum(n) AS BIGINT) AS nt FROM lt GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM lt)
      |SELECT lt.lang, CAST(ml.nl AS BIGINT) AS n_toks,
      |       round(sum((CAST(lt.n AS DOUBLE) / total) *
      |                 ln(CAST(lt.n AS DOUBLE) * total /
      |                    (CAST(ml.nl AS DOUBLE) * mt.nt))), 6) AS mi_part
      |FROM lt JOIN ml USING (lang) JOIN mt USING (tok) CROSS JOIN tot
      |GROUP BY lt.lang, ml.nl ORDER BY lt.lang""".stripMargin)) {
    (spark, dir) =>
      val lt = spread(table(spark, dir, "documents"))
        .select(col("lang"), explode(tokens(col("text"))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      val ml = lt.groupBy("lang").agg(sum("n").as("nl"))
      val mt = lt.groupBy("tok").agg(sum("n").as("nt"))
      val tot = lt.agg(sum("n").as("total"))
      lt.join(broadcast(ml), "lang")
        .join(broadcast(mt), "tok")
        .crossJoin(broadcast(tot))
        .groupBy(col("lang"), col("nl").as("n_toks"))
        .agg(round(sum((col("n").cast("double") / col("total")) *
          log(col("n").cast("double") * col("total") /
            (col("nl").cast("double") * col("nt")))), 6).as("mi_part"))
        .orderBy("lang")
  }

  /** x130: the END-TO-END curation pipeline as ONE declarative plan — the
    * showcase that the operator library composes: (1) quality gate (token
    * count ≥ 20, mean token length in [2, 12] — x06's shape), (2) exact
    * dedup keeping the min doc_id per content digest (x55's survivor
    * rule), (3) unigram-LM NLL scored over the SURVIVOR corpus (x109
    * retrained post-dedup — scoring before dedup would let duplicate
    * clusters vote on their own language model), (4) CCNet-style keep of
    * the head+middle NLL tertiles (x114), (5) sequence-packing layout over
    * the kept set (x116). Every global ordering routes through the
    * two-pass `globalRank`/`globalCumSum` primitives, the LM broadcasts,
    * and nothing in the composed plan funnels the corpus — one query a
    * user points at a lake to go from raw crawl to packed-example layout.
    * The oracle reproduces ALL five stages in SQL. */
  val x130 = DQ("x130_curation_pipeline", Some(
    """WITH t0 AS (
      |  SELECT doc_id, text,
      |         list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                     x -> x <> '') AS l
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, text, l, CAST(len(l) AS BIGINT) AS n_toks
      |  FROM t0
      |  WHERE len(l) >= 20
      |    AND CAST(list_sum(list_transform(l, t -> len(t))) AS DOUBLE) / len(l)
      |        BETWEEN 2 AND 12),
      |dd AS (
      |  SELECT doc_id, l, n_toks FROM (
      |    SELECT doc_id, l, n_toks,
      |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |    FROM q) t WHERE rn = 1),
      |toks AS (SELECT doc_id, unnest(l) AS tok FROM dd),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
      |lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM lm),
      |scored AS (
      |  SELECT t.doc_id,
      |         round(sum(t.tf * ln(CAST(total AS DOUBLE) / l.cnt)) / sum(t.tf), 6) AS nll
      |  FROM tf t JOIN lm l USING (tok) CROSS JOIN tot GROUP BY 1),
      |r AS (SELECT doc_id, nll,
      |             CAST(row_number() OVER (ORDER BY nll, doc_id) AS BIGINT) AS rk,
      |             CAST(count(*) OVER () AS BIGINT) AS n
      |      FROM scored),
      |kept AS (
      |  SELECT d.doc_id, d.n_toks, r.nll FROM dd d JOIN r USING (doc_id)
      |  WHERE r.rk * 3 <= 2 * r.n),
      |packed AS (
      |  SELECT doc_id, n_toks, nll,
      |         CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |              AS BIGINT) AS start_tok
      |  FROM kept)
      |SELECT doc_id, n_toks, nll, start_tok,
      |       start_tok // 512 AS first_example,
      |       (start_tok + n_toks - 1) // 512 - start_tok // 512 + 1 AS n_examples
      |FROM packed ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      // stage 1: quality gate
      val q = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), col("text"), tokens(col("text")).as("l"))
        .withColumn("n_toks", size(col("l")).cast("long"))
        .filter(col("n_toks") >= 20 &&
          (expr("aggregate(l, 0L, (acc, t) -> acc + length(t))").cast("double") /
            col("n_toks")).between(2, 12))
      // stage 2: exact dedup — min doc_id survives per content digest
      // (min_by aggregation: map-side combining, no digest window). dd
      // feeds the NLL pipeline and the stage-4 join-back; the shared
      // digest exchange dedups via ReuseExchange, and NOT checkpointing
      // here is deliberate — materializing the token arrays was a
      // measured 2× regression this round (cache write of deserialized
      // string arrays dwarfed the recompute).
      val dd = q.groupBy(md5(col("text")).as("dg"))
        .agg(min_by(struct(col("doc_id"), col("l"), col("n_toks")),
          col("doc_id")).as("s"))
        .select(col("s.doc_id"), col("s.l"), col("s.n_toks"))
      // stage 3: NLL over the survivor corpus (LM broadcast, x109 shape);
      // the unigram LM folds from tf (Σ tf per tok ≡ count per tok) so the
      // doc explode runs ONCE, not once per aggregation (guide §2.3
      // "aggregate before you shuffle")
      val toks = dd.select(col("doc_id"), explode(col("l")).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      // unigram LM folded from tf (Σ tf per tok ≡ corpus count per tok):
      // one explode feeds one shared exchange (measured 1 s faster than
      // the second explode at sf0.1)
      val lm = tf.groupBy("tok").agg(sum("tf").as("cnt"))
      val tot = lm.agg(sum("cnt").as("total"))
      // n_toks rides the scoring aggregate (round 16): Σ tf per doc ≡
      // size(l) — the tf rows ARE the exploded tokens — so the stage-4
      // join back to dd (which re-evaluated the whole tokenize+dedup
      // pipeline a second time) is pure recompute and drops out.
      val scored = tf.join(broadcast(lm), "tok")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(round(
          sum(col("tf") * log(col("total").cast("double") / col("cnt"))) /
            sum("tf"), 6).as("nll"),
          sum("tf").as("n_toks"))
        // (doc_id, nll, n_toks) — three scalars per surviving doc, NOT the
        // token-array frame the round-15 note below rejects. Its consumers
        // are three separate evaluations (globalRank's ranged + offsets
        // branches, the tertile count): the cut runs the tokenize → dedup →
        // tf → LM pipeline once. A/B (CHANGES.md): cut 1.88 s, no cut
        // 3.04 s, repartition 3.05 s
        .localCheckpoint()
      // stage 4: keep head+middle tertiles via the two-pass global rank
      val ranked = graft.batch.Joins.globalRank(scored, 32, "nll", "doc_id")
      val n = scored.agg(count(lit(1)).as("n"))
      val kept = ranked.crossJoin(broadcast(n))
        .filter(col("global_rank") * 3 <= col("n") * 2)
        .select(col("doc_id"), col("nll"), col("n_toks"))
      // stage 5: packing layout via the distributed prefix sum
      graft.batch.Joins.globalCumSum(kept, 32, "n_toks", "doc_id")
        .select(col("doc_id"), col("n_toks"), col("nll"),
          col("cum_before").as("start_tok"))
        .select(col("doc_id"), col("n_toks"), col("nll"), col("start_tok"),
          expr("start_tok div 512").as("first_example"),
          expr("(start_tok + n_toks - 1) div 512 - start_tok div 512 + 1")
            .as("n_examples"))
        .orderBy("doc_id")
  }

  /** x131: epoch-deterministic corpus shuffle — the data-loader
    * permutation every training run needs: each epoch e assigns every doc
    * a position by ranking md5(e:doc_id), so (a) the permutation is
    * reproducible across runs, engines, and retries (RNG-free — the x22
    * determinism contract), (b) different epochs get INDEPENDENT
    * permutations (the hash reseeds), and (c) nothing global-sorts in one
    * task: both epochs rank in a single [[graft.batch.Joins.globalRank]]
    * pass keyed (epoch, hash) — range partitions cover the epoch×hash
    * space in parallel — and the per-epoch position is the global rank
    * minus the (epoch−1)·N offset, exact integer arithmetic off a 1-row
    * broadcast count. A `row_number() OVER (PARTITION BY epoch ...)` would
    * funnel each epoch through ONE task; this never does. */
  val x131 = DQ("x131_epoch_shuffle", Some(
    """WITH d AS (SELECT doc_id FROM documents),
      |e AS (SELECT doc_id, u.e AS epoch
      |      FROM d, unnest(generate_series(1, 2)) AS u(e))
      |SELECT CAST(epoch AS INT) AS epoch, doc_id,
      |       CAST(row_number() OVER (PARTITION BY epoch
      |             ORDER BY md5(epoch || ':' || doc_id), doc_id) AS BIGINT) AS pos
      |FROM e ORDER BY epoch, pos""".stripMargin)) {
    (spark, dir) =>
      val docs = spread(table(spark, dir, "documents")).select("doc_id")
      val e = docs
        .select(col("doc_id"), explode(sequence(lit(1), lit(2))).as("epoch"))
        .withColumn("h", md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))))
      val n = docs.agg(count(lit(1)).as("n"))
      graft.batch.Joins.globalRank(e, 32, "epoch", "h", "doc_id")
        .crossJoin(broadcast(n))
        .select(col("epoch").cast("int").as("epoch"), col("doc_id"),
          (col("global_rank") - (col("epoch").cast("long") - 1L) * col("n"))
            .as("pos"))
        .orderBy("epoch", "pos")
  }

  /** x150: CROSS-MODAL PROVENANCE — the multimodal and text pillars in ONE
    * plan: each document becomes a WebM whose S_TEXT/UTF8 subtitle cues
    * are 6-token windows of its own text; the query then extracts the
    * cues back OUT of the containers (`mkv_blocks` → byte slice → UTF-8),
    * shingles them with the SAME 3-gram/60-bit-key scheme the corpus
    * dedup family uses, and gram-joins against the documents table to
    * rank each video's best-matching source document — subtitle-level
    * dedup of video against a text corpus, the real cross-modal curation
    * op (find videos whose transcripts duplicate crawl documents). The
    * pair space is the gram equi-join (Σ df per key), never all-pairs;
    * the oracle replays the container construction arithmetically and
    * recomputes the join, so the cue slicing, tokenizer parity and key
    * hashing must all agree bit-for-bit. */
  val x150 = DQ("x150_subtitle_provenance", Some(
    """WITH t0 AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |vids AS (SELECT doc_id AS video_id, l,
      |           CAST(least(3, len(l) // 6) AS INT) AS nc
      |         FROM t0 WHERE len(l) >= 6),
      |cues AS (SELECT video_id, l[6 * u.c + 1 : 6 * u.c + 6] AS cl
      |         FROM vids, unnest(generate_series(0, nc - 1)) AS u(c)),
      |vg AS (SELECT DISTINCT video_id,
      |         CAST('0x' || substr(md5(array_to_string(cl[s.i : s.i + 2], ' ')),
      |              1, 15) AS BIGINT) AS gk
      |       FROM cues, unnest(generate_series(1, 4)) AS s(i)),
      |dg AS (SELECT DISTINCT doc_id,
      |         CAST('0x' || substr(md5(array_to_string(l[s.i : s.i + 2], ' ')),
      |              1, 15) AS BIGINT) AS gk
      |       FROM t0, unnest(generate_series(1, greatest(len(l) - 2, 0))) AS s(i)),
      |m AS (SELECT vg.video_id, dg.doc_id, count(*) AS n_shared
      |      FROM vg JOIN dg USING (gk) GROUP BY 1, 2),
      |best AS (SELECT video_id, doc_id AS best_doc,
      |           CAST(n_shared AS BIGINT) AS n_shared,
      |           row_number() OVER (PARTITION BY video_id
      |                              ORDER BY n_shared DESC, doc_id) AS rn
      |         FROM m)
      |SELECT video_id, best_doc, n_shared
      |FROM best WHERE rn = 1 ORDER BY video_id""".stripMargin)) {
    (spark, dir) =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.functions.{Mkv, MkvBlocks}
      import graft.functions.Mkv.{MkvClusterSpec, MkvTrackSpec}
      val docsT = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("l"))
      val videos = docsT.filter(size(col("l")) >= 6)
        .as[(Long, Seq[String])]
        .map { case (id, l) =>
          val nc = math.min(3, l.length / 6)
          val clusters = (0 until nc).map { c =>
            MkvClusterSpec(c.toLong * 2000, Seq(
              (2, 0, l.slice(6 * c, 6 * c + 6).mkString(" ")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))))
          }
          (id, Mkv.buildMkvBlocks("webm", 1000000L, nc.toLong * 2000, Seq(
            MkvTrackSpec(1, "video", "V_VP9", width = 320, height = 180),
            MkvTrackSpec(2, "subtitle", "S_TEXT/UTF8")), clusters))
        }.toDF("video_id", "media")
      val vg = videos
        .select(col("video_id"), col("media"),
          explode(MkvBlocks.mkvBlocks(col("media"))).as("b"))
        .filter(col("b.track_id") === 2)
        .select(col("video_id"),
          expr("CAST(substring(media, CAST(b.offset AS INT) + 1, b.size) AS STRING)")
            .as("cue"))
        .select(col("video_id"),
          explode(transform(Core.wordNgrams(tokens(col("cue")), 3),
            g => gramKey(g))).as("gk"))
        .distinct()
      val dg = wordShinglesHashed(spark, dir, 3)
      val m = vg.join(dg, "gk")
        .groupBy(col("video_id"), col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
      val w = Window.partitionBy("video_id")
        .orderBy(col("n_shared").desc, col("doc_id"))
      m.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("video_id"), col("doc_id").as("best_doc"),
          col("n_shared").cast("long").as("n_shared"))
        .orderBy("video_id")
  }

  /** x165: cross-document LINE-level boilerplate scrub — the CCNet
    * paragraph-dedup stage (Wenzek et al. 2020 drop any paragraph whose
    * normalized hash repeats across the crawl; the nav-bar / cookie-notice
    * killer that document-level dedup cannot touch). The corpus's
    * single-paragraph docs are re-lined by a SQL-replayable construction —
    * content lines are consecutive 8-token windows of the REAL text, and
    * boilerplate lines from a 4-string pool are interleaved by a doc⊕line
    * formula (≈⅓ density) — then Spark must do the actual scrub: hash
    * every line to a 60-bit key, count DISTINCT docs per key (two-level
    * agg, no distinct machinery), drop lines reaching 3 docs, and rebuild
    * each doc's residual text in line order. One in-row lining pass; the
    * only corpus-width exchanges (distinct, count, mark-join) carry 8-byte
    * keys; the rebuild is a per-doc sort of its own lines — the same
    * 100 TB posture as x106, one granularity up. */
  val x165 = DQ("x165_line_dedup_scrub", Some(
    """WITH t0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |n AS (SELECT doc_id, l, greatest(len(l) // 8, 1) AS nl FROM t0),
      |lines AS (
      |  SELECT doc_id, 2 * u.r AS ord,
      |         array_to_string(l[u.r * 8 + 1 : u.r * 8 + 8], ' ') AS line
      |  FROM n, unnest(generate_series(0, nl - 1)) AS u(r)
      |  UNION ALL
      |  SELECT doc_id, 2 * u.r + 1 AS ord,
      |         'boilerplate notice ' || CAST(u.r % 4 AS VARCHAR) AS line
      |  FROM n, unnest(generate_series(0, nl - 1)) AS u(r)
      |  WHERE (doc_id + u.r) % 3 = 0),
      |keyd AS (SELECT doc_id, ord, line,
      |                CAST('0x' || substr(md5(line), 1, 15) AS BIGINT) AS lk
      |         FROM lines),
      |freq AS (SELECT lk FROM (SELECT DISTINCT doc_id, lk FROM keyd)
      |         GROUP BY lk HAVING count(*) >= 3),
      |mark AS (SELECT k.doc_id, k.ord, k.line, (f.lk IS NOT NULL) AS dropd
      |         FROM keyd k LEFT JOIN freq f ON k.lk = f.lk)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CASE WHEN dropd THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |       coalesce(string_agg(CASE WHEN NOT dropd THEN line END,
      |                           chr(10) ORDER BY ord), '') AS cleaned
      |FROM mark GROUP BY doc_id ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      val t0 = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("l"))
        .withColumn("nl", greatest(floor(size(col("l")) / 8).cast("int"), lit(1)))
      // line construction IN-ROW (content windows + formula boilerplate),
      // one explode — mirrors the oracle's UNION ALL exactly
      val lines = t0.select(col("doc_id"), explode(expr(
        """flatten(transform(sequence(0, nl - 1), r ->
          |  CASE WHEN (doc_id + r) % 3 = 0 THEN
          |    array(struct(2 * r AS ord,
          |                 array_join(slice(l, r * 8 + 1, 8), ' ') AS line),
          |          struct(2 * r + 1 AS ord,
          |                 concat('boilerplate notice ',
          |                        cast(r % 4 as string)) AS line))
          |  ELSE array(struct(2 * r AS ord,
          |                    array_join(slice(l, r * 8 + 1, 8), ' ') AS line))
          |  END))""".stripMargin)).as("s"))
        .select(col("doc_id"), col("s.ord").as("ord"), col("s.line").as("line"))
      val keyd = lines.withColumn("lk", gramKey(col("line")))
      // cross-doc line frequency on 8-byte keys; (doc, lk) pairs collapse
      // map-side before the count — no distinct-aggregate machinery
      val freq = keyd.select("doc_id", "lk").distinct()
        .groupBy("lk").agg(count(lit(1)).as("d"))
        .filter(col("d") >= 3).select(col("lk"), lit(true).as("dropd"))
      keyd.join(freq, Seq("lk"), "left_outer")
        .withColumn("dropd", coalesce(col("dropd"), lit(false)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("dropd"), 1L).otherwise(0L)).as("n_dropped"),
          array_join(transform(
            filter(array_sort(collect_list(struct(col("ord"), col("line"),
              col("dropd")))), s => !s.getField("dropd")),
            s => s.getField("line")), "\n").as("cleaned"))
        .orderBy("doc_id")
  }

  /** x166: incremental dedup against a PRIOR corpus through a real
    * distributed Bloom filter — the "have we already trained on this"
    * gate. The prior partition (even docs) aggregates its distinct
    * 8-gram set into one m = 2^20-bit [[graft.functions.BloomBits]]
    * bitset (constant 128 KiB per partition on the wire, a word-wise OR
    * to merge); the new batch (odd docs) then tests membership against
    * the BROADCAST bitset with pure builtins — at 100 TB the new data
    * never joins the prior corpus at all, which is the entire point of
    * the sketch. An exact md5 semi-arm computes ground truth beside it,
    * so the result quantifies the filter's false positives (zero false
    * negatives by construction — every verdict column is audited). The
    * oracle replays the bloom verdict EXACTLY via the bucket-set
    * equivalence "bit h set ⟺ some prior gram hashed to h UNDER ANY of
    * the k hash functions" — the bucket sets must be UNIONED because the
    * filter shares one bit array across hash functions (a per-function
    * oracle undercounts once the array gets dense: measured 317 vs 461
    * flagged in one md5 bucket at sf0.1). */
  val x166 = DQ("x166_bloom_dedup_gate", Some(
    """WITH t0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |g AS (SELECT DISTINCT doc_id % 2 AS par,
      |        array_to_string(l[u.i : u.i + 7], ' ') AS g
      |      FROM t0, unnest(generate_series(1, greatest(len(l) - 7, 0))) AS u(i)),
      |pg AS (SELECT DISTINCT g FROM g WHERE par = 0),
      |pb AS (SELECT DISTINCT
      |         CAST('0x' || substr(md5(CAST(j.j AS VARCHAR) || g), 1, 15)
      |              AS BIGINT) % 1048576 AS b
      |       FROM pg, unnest(generate_series(0, 2)) AS j(j)),
      |pm AS (SELECT DISTINCT md5(g) AS gm FROM pg),
      |v AS (SELECT md5(g) AS gm,
      |        (CAST('0x' || substr(md5('0' || g), 1, 15) AS BIGINT) % 1048576
      |           IN (SELECT b FROM pb)
      |         AND CAST('0x' || substr(md5('1' || g), 1, 15) AS BIGINT) % 1048576
      |           IN (SELECT b FROM pb)
      |         AND CAST('0x' || substr(md5('2' || g), 1, 15) AS BIGINT) % 1048576
      |           IN (SELECT b FROM pb)) AS flagged,
      |        md5(g) IN (SELECT gm FROM pm) AS is_dup
      |      FROM g WHERE par = 1)
      |SELECT substr(gm, 1, 1) AS bucket, CAST(count(*) AS BIGINT) AS n_new,
      |       CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |       CAST(sum(CASE WHEN flagged AND NOT is_dup THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_fp
      |FROM v GROUP BY bucket ORDER BY bucket""".stripMargin)) {
    (spark, dir) =>
      import graft.functions.BloomBits
      val M = 1 << 20
      def buckets(g: Column): Column = array((0 to 2).map { j =>
        pmod(conv(substring(md5(concat(lit(j.toString), g)), 1, 15), 16, 10)
          .cast("long"), lit(M.toLong))
      }: _*)
      val t0 = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("l"))
      // Round 16 (§2.3/§2.4): ONE gram-keyed exchange replaces the round-15
      // three-consumer distinct. Per-gram parity flags (has0 = seen in the
      // prior member, has1 = seen in the probe member) aggregate map-side
      // straight off the shingle explode — no (par, g) distinct pre-pass —
      // and is_dup IS has0, so the md5-digest build + its sort-merge join
      // back onto the probe side drop out entirely (r15 plan: distinct
      // exchange + priorM distinct exchange + SMJ; now: one hash agg).
      val gstat = t0
        .select((col("doc_id") % 2).as("par"),
          explode(wordNgrams(col("l"), 8)).as("g"))
        .groupBy("g")
        .agg(max(when(col("par") === 0, 1).otherwise(0)).as("has0"),
          max(when(col("par") === 1, 1).otherwise(0)).as("has1"))
        // cut: feeds the Bloom bits agg AND the probe side. A/B (CHANGES.md):
        // cut 1.91 s, no cut 2.10 s, repartition 2.14 s
        .localCheckpoint()
      val bits = gstat.filter(col("has0") === 1)
        .select(buckets(col("g")).as("hs"))
        .agg(BloomBits.bloomBits(col("hs"), M).as("bits"))
      gstat.filter(col("has1") === 1)
        .select(md5(col("g")).as("gm"), buckets(col("g")).as("hs"),
          (col("has0") === 1).as("is_dup"))
        .crossJoin(broadcast(bits))
        .withColumn("flagged", expr(
          "forall(hs, h -> (element_at(bits, cast(h div 64 as int) + 1) & " +
            "shiftleft(cast(1 as bigint), cast(h % 64 as int))) != 0)"))
        .withColumn("bucket", substring(col("gm"), 1, 1))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_new"),
          sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
          sum(when(col("flagged") && !col("is_dup"), 1L).otherwise(0L)).as("n_fp"))
        .orderBy("bucket")
  }

  /** x172: TOKEN-WINDOW CHUNKING — context-window preparation (the
    * token-level sibling of the reference's byte chunker T1 and the
    * retrieval-style counterpart of x116's sequence packing): each doc
    * splits into windows of W = 64 tokens at stride S = 48 (16-token
    * overlap, the standard long-document training/RAG recipe), the last
    * window keeping its natural short length rather than padding.
    * Window generation is IN-ROW (`sequence` + `transform` + `slice`,
    * one explode) — zero shuffles before the per-doc presentation sort;
    * the only subtlety is the window-count formula, which the oracle
    * replays with the same integer arithmetic. */
  val x172 = DQ("x172_token_windows", Some(
    """WITH t0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |n AS (SELECT doc_id, l, len(l) AS n,
      |             CASE WHEN len(l) <= 64 THEN CAST(0 AS BIGINT)
      |                  ELSE (len(l) - 64 + 47) // 48 END AS kmax
      |      FROM t0 WHERE len(l) > 0),
      |w AS (SELECT doc_id, u.k AS chunk_idx,
      |             l[u.k * 48 + 1 : least(u.k * 48 + 64, n)] AS toks
      |      FROM n, unnest(generate_series(0, kmax)) AS u(k))
      |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
      |  CAST(len(toks) AS INT) AS n_tokens,
      |  toks[1] AS first_tok,
      |  md5(array_to_string(toks, ' ')) AS chunk_md5
      |FROM w ORDER BY doc_id, chunk_idx""".stripMargin)) {
    (spark, dir) =>
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("l"))
        .withColumn("n", size(col("l")))
        .filter(col("n") > 0)
        .withColumn("kmax", when(col("n") <= 64, 0)
          .otherwise(floor((col("n") - 64 + 47) / 48).cast("int")))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, kmax), k -> struct(
            |  k AS chunk_idx,
            |  slice(l, k * 48 + 1, least(64, n - k * 48)) AS toks))"""
            .stripMargin)).as("s"))
        .select(col("doc_id"), col("s.chunk_idx").cast("int").as("chunk_idx"),
          size(col("s.toks")).as("n_tokens"),
          element_at(col("s.toks"), 1).as("first_tok"),
          md5(array_join(col("s.toks"), " ")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
  }

  /** x173: CORPUS SNAPSHOT DIFF — dataset versioning's core operation
    * (what Delta/iceberg-style table diffs do for a training corpus):
    * snapshot A = the corpus as-is; snapshot B = A with formula-driven
    * edits (every 11th doc dropped, every 7th surviving doc's text
    * revised, every doc_id≡5 (mod 10) gaining a NEW doc id+100000).
    * One FULL OUTER join on the doc key classifies every row into
    * added / removed / changed / unchanged by presence and content
    * digest — the audit that tells a retraining run exactly what moved
    * between corpus versions. Content compare is digest-to-digest
    * (md5), so at 100 TB the join carries two 32-byte hashes per doc,
    * never the text; the output is the per-class tally plus a changed
    * sample digest so the gate pins actual classifications, not just
    * counts. */
  val x173 = DQ("x173_corpus_diff", Some(
    """WITH a AS (SELECT doc_id, md5(text) AS h FROM documents),
      |b AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 7 = 0 THEN md5('rev2 ' || text)
      |              ELSE md5(text) END AS h
      |  FROM documents WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000, md5('new ' || text)
      |  FROM documents WHERE doc_id % 10 = 5),
      |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
      |             CASE WHEN a.doc_id IS NULL THEN 'added'
      |                  WHEN b.doc_id IS NULL THEN 'removed'
      |                  WHEN a.h <> b.h THEN 'changed'
      |                  ELSE 'unchanged' END AS class,
      |             coalesce(b.h, a.h) AS h
      |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT class, CAST(count(*) AS BIGINT) AS n,
      |       min(doc_id) AS first_doc, min(h) AS min_h
      |FROM j GROUP BY class ORDER BY class""".stripMargin)) {
    (spark, dir) =>
      val a = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), md5(col("text")).as("h"))
      val base = spread(table(spark, dir, "documents"))
      val b = base.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, md5(concat(lit("rev2 "), col("text"))))
            .otherwise(md5(col("text"))).as("h"))
        .unionAll(base.filter(col("doc_id") % 10 === 5)
          .select((col("doc_id") + 100000).as("doc_id"),
            md5(concat(lit("new "), col("text"))).as("h")))
      a.withColumnRenamed("doc_id", "a_id").withColumnRenamed("h", "a_h")
        .join(b.withColumnRenamed("doc_id", "b_id").withColumnRenamed("h", "b_h"),
          col("a_id") === col("b_id"), "full_outer")
        .select(coalesce(col("a_id"), col("b_id")).as("doc_id"),
          when(col("a_id").isNull, "added")
            .when(col("b_id").isNull, "removed")
            .when(col("a_h") =!= col("b_h"), "changed")
            .otherwise("unchanged").as("class"),
          coalesce(col("b_h"), col("a_h")).as("h"))
        .groupBy("class")
        .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"),
          min("h").as("min_h"))
        .orderBy("class")
  }

  /** x174: WORD↔WORD PMI NEIGHBORS — the distributional-similarity
    * primitive (collocation mining / embedding-free nearest words):
    * cooccurrence pairs inside a ±2 token window are generated IN-ROW
    * (alphabetically ordered so (a,b) and (b,a) collapse map-side),
    * counted corpus-wide, joined to the unigram marginals (vocabulary —
    * the provably bounded side — broadcasts; the PAIR table, which is
    * the big one, never re-shuffles), and each word's top-3 neighbors
    * ranked by PMI. The ranking key is an INTEGER-EXACT PMI proxy,
    * `(c_ab·T·10^5) div (c_a·c_b)` — monotone in PMI at fixed scale and
    * free of libm: a `ln` ranking could flip equal-ulp neighbors
    * between engines, an integer division cannot. (Headroom: the
    * product is < T²·10^5, safe in int64 up to T ≈ 10^6.5 tokens; a
    * 100 TB run would rank by the double PMI and tolerate ulp ties.)
    * The only window is per-WORD over ≤vocab-size neighbor lists. */
  val x174 = DQ("x174_word_pmi", Some(
    """WITH t0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |toks AS (SELECT doc_id, u.i AS i, l[u.i] AS tok
      |         FROM t0, unnest(generate_series(1, len(l))) AS u(i)),
      |pp AS (
      |  SELECT least(a.tok, b.tok) AS w1, greatest(a.tok, b.tok) AS w2
      |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |  UNION ALL
      |  SELECT least(a.tok, b.tok), greatest(a.tok, b.tok)
      |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 2),
      |pairs AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM pp
      |          WHERE w1 <> w2 GROUP BY 1, 2 HAVING count(*) >= 3),
      |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM toks),
      |sc AS (SELECT p.w1, p.w2, p.c,
      |              (p.c * t * 100000) // (u1.c * u2.c) AS ppm
      |       FROM pairs p JOIN uni u1 ON u1.tok = p.w1
      |                    JOIN uni u2 ON u2.tok = p.w2 CROSS JOIN tot),
      |dir AS (SELECT w1 AS word, w2 AS nb, c, ppm FROM sc
      |        UNION ALL SELECT w2, w1, c, ppm FROM sc),
      |r AS (SELECT *, row_number() OVER (PARTITION BY word
      |        ORDER BY ppm DESC, nb) AS rn FROM dir)
      |SELECT word, nb AS neighbor, CAST(rn AS INT) AS rank,
      |       c AS n_pair, CAST(ppm AS BIGINT) AS pmi_p100k
      |FROM r WHERE rn <= 3 ORDER BY word, rank""".stripMargin)) {
    (spark, dir) =>
      // tokenized once (cut): t0 feeds the pair explode AND the unigram
      // explode. A/B (CHANGES.md): both cuts 0.66 s, no cut 0.81 s,
      // repartition 1.08 s; without this cut 0.88 s vs 0.80 s
      val t0 = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("l"))
        .localCheckpoint()
      // ±2-window pairs generated in-row, alphabetically ordered
      val pp = t0.select(explode(expr(
        """CASE WHEN size(l) >= 2 THEN
          |  flatten(transform(sequence(1, size(l) - 1), i ->
          |    CASE WHEN i + 2 <= size(l) THEN array(
          |      struct(least(element_at(l, i), element_at(l, i + 1)) AS w1,
          |             greatest(element_at(l, i), element_at(l, i + 1)) AS w2),
          |      struct(least(element_at(l, i), element_at(l, i + 2)) AS w1,
          |             greatest(element_at(l, i), element_at(l, i + 2)) AS w2))
          |    ELSE array(
          |      struct(least(element_at(l, i), element_at(l, i + 1)) AS w1,
          |             greatest(element_at(l, i), element_at(l, i + 1)) AS w2))
          |    END))
          |ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END"""
          .stripMargin)).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val pairs = pp.filter(col("w1") =!= col("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 3)
      val toks = t0.select(explode(col("l")).as("tok"))
      val uni = toks.groupBy("tok").agg(count(lit(1)).as("cu"))
      // Σ per-token counts ≡ corpus token count: no second explode pass
      val tot = uni.agg(sum("cu").as("t"))
      val sc = pairs
        .join(broadcast(uni.select(col("tok").as("w1"), col("cu").as("c1"))), "w1")
        .join(broadcast(uni.select(col("tok").as("w2"), col("cu").as("c2"))), "w2")
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c"),
          expr("(c * t * 100000) div (c1 * c2)").as("ppm"))
        // cut: both direction branches of the union read it; without it
        // 0.91 s vs 0.80 s
        .localCheckpoint()
      val dir2 = sc.select(col("w1").as("word"), col("w2").as("nb"),
          col("c"), col("ppm"))
        .unionAll(sc.select(col("w2").as("word"), col("w1").as("nb"),
          col("c"), col("ppm")))
      val w = Window.partitionBy("word")
        .orderBy(col("ppm").desc, col("nb"))
      dir2.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("word"), col("nb").as("neighbor"),
          col("rn").cast("int").as("rank"), col("c").as("n_pair"),
          col("ppm").cast("long").as("pmi_p100k"))
        .orderBy("word", "rank")
  }

  /** x175: BIGRAM-LM DOCUMENT SCORING — x109's model-based quality
    * filter at order 2 (the shape of CCNet's KenLM pass, Wenzek et al.
    * 2020): the corpus trains an interpolated bigram model
    * `p(b|a) = 0.7·c₂(a,b)/c₁(a) + 0.3·c₁(b)/T` on itself, then every
    * document is scored by its per-pair mean negative log-likelihood.
    * Two passes: pass 1 aggregates the bigram and unigram tables
    * (map-side combining does the heavy lifting); pass 2 explodes each
    * doc's consecutive pairs ONCE and joins the model on a 60-bit
    * hashed bigram key (8-byte exchange, same discipline as x106) plus
    * broadcast unigram marginals. At 100 TB the bigram table is the
    * one big exchange and it is counted once, never per-doc. Doubles
    * enter only inside the final `ln`, rounded to 6 — the x109/x128
    * precedent that holds across engines. */
  val x175 = DQ("x175_bigram_nll", Some(
    """WITH t0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                             x -> x <> '') AS l
      |  FROM documents),
      |toks AS (SELECT doc_id, u.i AS i, l[u.i] AS tok
      |         FROM t0, unnest(generate_series(1, len(l))) AS u(i)),
      |bp AS (SELECT a.doc_id, a.i, a.tok AS w1, b.tok AS w2
      |       FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
      |big AS (SELECT CAST('0x' || substr(md5(w1 || ' ' || w2), 1, 15) AS BIGINT)
      |               AS bk, CAST(count(*) AS BIGINT) AS c2
      |        FROM bp GROUP BY 1),
      |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1 FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM toks),
      |scored AS (
      |  SELECT p.doc_id,
      |         -ln(0.7 * CAST(big.c2 AS DOUBLE) / u1.c1
      |             + 0.3 * CAST(u2.c1 AS DOUBLE) / tot.t) AS nll
      |  FROM bp p
      |  JOIN big ON big.bk = CAST('0x' || substr(md5(p.w1 || ' ' || p.w2), 1, 15)
      |                       AS BIGINT)
      |  JOIN uni u1 ON u1.tok = p.w1
      |  JOIN uni u2 ON u2.tok = p.w2
      |  CROSS JOIN tot)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |       round(avg(nll), 6) AS mean_nll
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      // tokenized once (cut): t0 feeds the bigram explode AND the unigram
      // explode. A/B (CHANGES.md): both cuts 0.85 s, without this one 1.01 s,
      // without either 1.13 s, repartition 1.28 s
      val t0 = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("l"))
        .localCheckpoint()
      // consecutive pairs, generated in-row once per doc
      val bp = t0.select(col("doc_id"), explode(expr(
        """CASE WHEN size(l) >= 2 THEN
          |  transform(sequence(1, size(l) - 1), i ->
          |    struct(element_at(l, i) AS w1, element_at(l, i + 1) AS w2))
          |ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END"""
          .stripMargin)).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .withColumn("bk", gramKey(concat_ws(" ", col("w1"), col("w2"))))
        // cut: feeds the bigram LM agg AND the scoring probe; without it 1.18 s
        .localCheckpoint()
      val big = bp.groupBy("bk").agg(count(lit(1)).as("c2"))
      val toks = t0.select(explode(col("l")).as("tok"))
      val uni = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
      // Σ per-token counts ≡ corpus token count: no second explode pass
      val tot = uni.agg(sum("c1").as("t"))
      bp.join(big, "bk")
        .join(broadcast(uni.select(col("tok").as("w1"), col("c1").as("ca"))), "w1")
        .join(broadcast(uni.select(col("tok").as("w2"), col("c1").as("cb"))), "w2")
        .crossJoin(broadcast(tot))
        .withColumn("nll", -log(lit(0.7) * col("c2") / col("ca")
          + lit(0.3) * col("cb") / col("t")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pairs"), round(avg(col("nll")), 6).as("mean_nll"))
        .orderBy("doc_id")
  }

  /** x177: LEAK-PROOF TRAIN/VAL/TEST SPLITTING — the evaluation-
    * integrity op: duplicated content must land in ONE split, or the
    * held-out sets are contaminated by construction. The fixture makes
    * the hazard real (every `doc_id % 39` shares a content string — 39
    * coprime to the naive modulus, so duplicates straddle doc buckets), then both split policies run side
    * by side: the NAIVE doc-id split (`doc_id % 10` → 80/10/10) and the
    * CONTENT-HASH split (first md5 hex digit → 12/2/2 sixteenths).
    * The audit counts contents spanning >1 split under each policy —
    * nonzero for the naive split, ZERO for the hash split, and both
    * numbers are computed, not asserted. Everything is two-level
    * aggregation on 8-byte/16-byte keys; at 100 TB the hash split is
    * also the only one that needs no coordination — any worker can
    * route any row. */
  val x177 = DQ("x177_leakproof_split", Some(
    """WITH d AS (
      |  SELECT doc_id, 'shared content ' || CAST(doc_id % 39 AS VARCHAR)
      |           || ' corpus' AS text
      |  FROM documents),
      |s AS (SELECT doc_id, md5(text) AS h,
      |        CASE WHEN doc_id % 10 <= 7 THEN 'train'
      |             WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END AS by_doc,
      |        CASE WHEN substr(md5(text), 1, 1) BETWEEN '0' AND 'b'
      |               THEN 'train'
      |             WHEN substr(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
      |             ELSE 'test' END AS by_hash
      |      FROM d),
      |leak AS (
      |  SELECT
      |    (SELECT count(*) FROM (SELECT h FROM s GROUP BY h
      |       HAVING count(DISTINCT by_doc) > 1)) AS leak_doc,
      |    (SELECT count(*) FROM (SELECT h FROM s GROUP BY h
      |       HAVING count(DISTINCT by_hash) > 1)) AS leak_hash),
      |rows_ AS (
      |  SELECT 'by_doc' AS scheme, by_doc AS split,
      |         CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(count(DISTINCT h) AS BIGINT) AS n_contents
      |  FROM s GROUP BY 2
      |  UNION ALL
      |  SELECT 'by_hash', by_hash, CAST(count(*) AS BIGINT),
      |         CAST(count(DISTINCT h) AS BIGINT)
      |  FROM s GROUP BY 2)
      |SELECT r.scheme, r.split, r.n_docs, r.n_contents,
      |  CAST(CASE WHEN r.scheme = 'by_doc' THEN l.leak_doc
      |       ELSE l.leak_hash END AS BIGINT) AS leaked_contents
      |FROM rows_ r CROSS JOIN leak l ORDER BY scheme, split""".stripMargin)) {
    (spark, dir) =>
      val s = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), concat(lit("shared content "),
          (col("doc_id") % 39).cast("string"), lit(" corpus")).as("text"))
        .withColumn("h", md5(col("text")))
        .withColumn("by_doc", when(col("doc_id") % 10 <= 7, "train")
          .when(col("doc_id") % 10 === 8, "val").otherwise("test"))
        .withColumn("by_hash",
          when(substring(col("h"), 1, 1).between("0", "b"), "train")
            .when(substring(col("h"), 1, 1).isin("c", "d"), "val")
            .otherwise("test"))
      def leaks(c: String): DataFrame = s.select(col("h"), col(c)).distinct()
        .groupBy("h").agg(count(lit(1)).as("k")).filter(col("k") > 1)
        .agg(count(lit(1)).as(s"leak_$c"))
      val leak = leaks("by_doc").crossJoin(broadcast(leaks("by_hash")))
      def side(scheme: String): DataFrame = s.groupBy(col(scheme).as("split"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("h")).as("n_contents"))
        .select(lit(scheme).as("scheme"), col("split"), col("n_docs"),
          col("n_contents"))
      side("by_doc").unionAll(side("by_hash"))
        .crossJoin(broadcast(leak))
        .select(col("scheme"), col("split"), col("n_docs"), col("n_contents"),
          when(col("scheme") === "by_doc", col("leak_by_doc"))
            .otherwise(col("leak_by_hash")).cast("long").as("leaked_contents"))
        .orderBy("scheme", "split")
  }

  /** x183: GOPHER RULE BATTERY — the full document-level quality gate of
    * Rae et al. 2021 (the reference filter set most LLM curation stacks
    * start from), each rule surfaced as its own boolean so downstream
    * ablations can re-weight without re-scanning: word-count floor,
    * mean-word-length band, max-single-token-frequency cap (in-doc
    * repetition), and stopword-presence floor. Every feature is INTEGER
    * arithmetic (`100·Σlen div n`, ppm fractions) so Spark and the oracle
    * agree bit-for-bit — the float ratios of the paper drift in the last
    * ulp across engines. One in-row token pass, one map-side-combinable
    * per-doc aggregation, zero joins: the shape that scans 100 TB at
    * line rate. */
  val x183 = DQ("x183_gopher_rules", Some(
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |f AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_words,
      |    CAST((SELECT 100 * sum(length(x.tok)) // len(l)
      |          FROM unnest(l) AS x(tok)) AS BIGINT) AS mean_len_x100,
      |    CAST((SELECT max(c) * 1000000 // len(l) FROM (
      |            SELECT count(*) AS c FROM unnest(l) AS x(tok)
      |            GROUP BY x.tok)) AS BIGINT) AS top_frac_ppm,
      |    CAST((SELECT count(*) FROM unnest(l) AS x(tok)
      |          WHERE x.tok IN ('the','a','is','of','and','to','that','with'))
      |         AS BIGINT) AS n_stop
      |  FROM t)
      |SELECT doc_id, n_words, mean_len_x100, top_frac_ppm, n_stop,
      |  n_words >= 30 AS r_words,
      |  mean_len_x100 BETWEEN 400 AND 520 AS r_len,
      |  top_frac_ppm <= 150000 AS r_rep,
      |  n_stop >= 2 AS r_stop,
      |  (n_words >= 30 AND mean_len_x100 BETWEEN 400 AND 520
      |   AND top_frac_ppm <= 150000 AND n_stop >= 2) AS admit
      |FROM f ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      // the SAME projection the streaming ingest gate runs
      // (Pipelines.qualityGateStream) — batch and stream cannot drift
      graft.streaming.Pipelines.gopherAdmit(
        spread(table(spark, dir, "documents")).select("doc_id", "text"))
        .select("doc_id", "n_words", "mean_len_x100", "top_frac_ppm",
          "n_stop", "r_words", "r_len", "r_rep", "r_stop", "admit")
        .orderBy("doc_id")
  }

  /** x184: LENGTH-BUCKETED BATCH PACKING AUDIT — the serving-side twin of
    * x116's sequence packing: training loaders bucket documents by
    * power-of-two token length and pad each batch to the bucket width, and
    * this measures exactly what that costs (padded tokens, waste ppm) per
    * bucket. The bucket ladder is a literal CASE (no float log2), batch
    * count is `⌈n/8⌉` in integer arithmetic, and the whole audit is one
    * in-row token count plus one map-side-combinable groupBy — the
    * dataloader-planning query a 100 TB corpus runs before every training
    * launch. */
  val x184 = DQ("x184_batch_padding", Some(
    """WITH t AS (SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                         x -> x <> '')) AS BIGINT) AS n
      |  FROM documents),
      |b AS (SELECT doc_id, n,
      |    CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
      |         WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
      |         WHEN n <= 256 THEN 256 ELSE 512 END AS bucket
      |  FROM t),
      |a AS (SELECT CAST(bucket AS BIGINT) AS bucket,
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n) AS BIGINT) AS sum_tokens,
      |    CAST((count(*) + 7) // 8 AS BIGINT) AS n_batches
      |  FROM b GROUP BY bucket)
      |SELECT bucket, n_docs, sum_tokens, n_batches,
      |  CAST(n_batches * 8 * bucket AS BIGINT) AS padded,
      |  CAST((n_batches * 8 * bucket - sum_tokens) * 1000000
      |       // (n_batches * 8 * bucket) AS BIGINT) AS waste_ppm
      |FROM a ORDER BY bucket""".stripMargin)) {
    (spark, dir) =>
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n"))
        .withColumn("bucket",
          when(col("n") <= 16, 16L).when(col("n") <= 32, 32L)
            .when(col("n") <= 64, 64L).when(col("n") <= 128, 128L)
            .when(col("n") <= 256, 256L).otherwise(512L))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("sum_tokens"),
          expr("(count(1) + 7) div 8").as("n_batches"))
        .select(col("bucket"), col("n_docs"), col("sum_tokens"),
          col("n_batches"),
          (col("n_batches") * 8 * col("bucket")).as("padded"),
          expr("""(n_batches * 8 * bucket - sum_tokens) * 1000000
                 |  div (n_batches * 8 * bucket)""".stripMargin)
            .as("waste_ppm"))
        .orderBy("bucket")
  }

  /** x185: CORPUS DRIFT AUDIT — dataset monitoring's core question
    * ("did the new extraction change the data?") answered PSI-style over
    * token-length buckets: snapshot A is the corpus as-is, snapshot B the
    * same documents through a changed extractor (truncation at 200 chars
    * — the classic silent-regression shape), and each bucket surfaces
    * both densities plus an INTEGER divergence contribution
    * `(pa−pb)² div (pa+pb+1)` in ppm — order-independent and bit-exact
    * where the textbook `(pa−pb)·ln(pa/pb)` drifts between engines'
    * libm. Totals ride a 1-row broadcast; everything else is one in-row
    * map + one tiny groupBy per snapshot. */
  val x185 = DQ("x185_drift_audit", Some(
    """WITH a AS (SELECT least(len(list_filter(string_split_regex(lower(text),
      |             '[^a-z]+'), x -> x <> '')) // 10, 9) AS bucket
      |           FROM documents),
      |b AS (SELECT least(len(list_filter(string_split_regex(lower(
      |             substr(text, 1, 200)), '[^a-z]+'), x -> x <> '')) // 10, 9)
      |             AS bucket
      |      FROM documents),
      |ac AS (SELECT bucket, CAST(count(*) AS BIGINT) AS a_cnt FROM a GROUP BY 1),
      |bc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS b_cnt FROM b GROUP BY 1),
      |tots AS (SELECT (SELECT sum(a_cnt) FROM ac) AS ta,
      |                (SELECT sum(b_cnt) FROM bc) AS tb),
      |m AS (SELECT coalesce(ac.bucket, bc.bucket) AS bucket,
      |             coalesce(a_cnt, 0) AS a_cnt, coalesce(b_cnt, 0) AS b_cnt
      |      FROM ac FULL OUTER JOIN bc ON ac.bucket = bc.bucket),
      |p AS (SELECT bucket, a_cnt, b_cnt,
      |             CAST(a_cnt * 1000000 // ta AS BIGINT) AS pa_ppm,
      |             CAST(b_cnt * 1000000 // tb AS BIGINT) AS pb_ppm
      |      FROM m CROSS JOIN tots)
      |SELECT CAST(bucket AS BIGINT) AS bucket, a_cnt, b_cnt, pa_ppm, pb_ppm,
      |  CAST((pa_ppm - pb_ppm) * (pa_ppm - pb_ppm)
      |       // (pa_ppm + pb_ppm + 1) AS BIGINT) AS drift_ppm,
      |  (pa_ppm - pb_ppm) * (pa_ppm - pb_ppm)
      |    // (pa_ppm + pb_ppm + 1) > 10000 AS flagged
      |FROM p ORDER BY bucket""".stripMargin)) {
    (spark, dir) =>
      val d = spread(table(spark, dir, "documents"))
      def hist2(c: Column): DataFrame = d
        .select(c.as("t"))
        .select(expr(
          "least(size(filter(split(lower(t), '[^a-z]+'), x -> x != '')) div 10, 9)")
          .cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
      val ac = hist2(col("text")).withColumnRenamed("cnt", "a_cnt")
      val bc = hist2(substring(col("text"), 1, 200))
        .withColumnRenamed("cnt", "b_cnt")
      // the INNER 1-row pairing needs its own hint too: with
      // auto-broadcast disabled (conf can leak from a sibling suite via
      // getOrCreate) an unhinted 1x1 crossJoin plans CartesianProduct
      val tots = broadcast(ac.agg(sum("a_cnt").as("ta"))
        .crossJoin(broadcast(bc.agg(sum("b_cnt").as("tb")))))
      ac.join(bc, Seq("bucket"), "full_outer")
        .na.fill(0L, Seq("a_cnt", "b_cnt"))
        .crossJoin(tots)
        .select(col("bucket"), col("a_cnt"), col("b_cnt"),
          expr("a_cnt * 1000000 div ta").as("pa_ppm"),
          expr("b_cnt * 1000000 div tb").as("pb_ppm"))
        .select(col("bucket"), col("a_cnt"), col("b_cnt"), col("pa_ppm"),
          col("pb_ppm"),
          expr("(pa_ppm - pb_ppm) * (pa_ppm - pb_ppm) div (pa_ppm + pb_ppm + 1)")
            .as("drift_ppm"),
          (expr("(pa_ppm - pb_ppm) * (pa_ppm - pb_ppm) div (pa_ppm + pb_ppm + 1)")
            > 10000).as("flagged"))
        .orderBy("bucket")
  }

  /** x186: LINEAR QUALITY CLASSIFIER — the fastText-shaped scorer most
    * curation stacks run after the rule battery (x183 gates, this RANKS):
    * a fixed-weight logistic regression over integer document features
    * (word count, mean word length, stopword hits, distinct-token ratio),
    * evaluated entirely in FIXED-POINT so the logit is bit-exact across
    * engines (no exp/sigmoid — thresholds compare the logit directly,
    * which is monotone-equivalent). Weights are literals here; in
    * production they arrive as a 1-row broadcast from the training job.
    * One in-row pass, no shuffle before the presentation sort. */
  val x186 = DQ("x186_quality_lr", Some(
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |f AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS f_words,
      |    CAST((SELECT 100 * sum(length(x.tok)) // len(l)
      |          FROM unnest(l) AS x(tok)) AS BIGINT) AS f_mlen,
      |    CAST((SELECT count(*) FROM unnest(l) AS x(tok)
      |          WHERE x.tok IN ('the','a','is','of','and','to','that','with'))
      |         AS BIGINT) AS f_stop,
      |    CAST(len(list_distinct(l)) * 1000000 // len(l) AS BIGINT) AS f_dist
      |  FROM t),
      |s AS (SELECT doc_id, f_words, f_mlen, f_stop, f_dist,
      |    CAST(25 * f_words + 8 * f_mlen + 500 * f_stop + f_dist // 500
      |         - 9000 AS BIGINT) AS logit_e3
      |  FROM f)
      |SELECT doc_id, f_words, f_mlen, f_stop, f_dist, logit_e3,
      |  CASE WHEN logit_e3 >= 500 THEN 'keep'
      |       WHEN logit_e3 >= -1500 THEN 'review' ELSE 'drop' END AS decision
      |FROM s ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      qualityLogit(spark, dir)
        .withColumn("decision",
          when(col("logit_e3") >= 500, "keep")
            .when(col("logit_e3") >= -1500, "review").otherwise("drop"))
        .drop("lang")
        .orderBy("doc_id")
  }

  /** x186's fixed-weight logit, shared with x190's per-language
    * calibration: (doc_id, lang, integer features, logit_e3). */
  private def qualityLogit(spark: SparkSession, dir: String): DataFrame = {
    val stops = "'the','a','is','of','and','to','that','with'"
    spread(table(spark, dir, "documents"))
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("l"))
      .select(col("doc_id"), col("lang"),
        size(col("l")).cast("long").as("f_words"),
        expr("100 * aggregate(l, 0L, (a, x) -> a + length(x)) div size(l)")
          .as("f_mlen"),
        expr(s"cast(size(filter(l, x -> x IN ($stops))) as bigint)")
          .as("f_stop"),
        expr("size(array_distinct(l)) * 1000000L div size(l)").as("f_dist"))
      .withColumn("logit_e3", expr(
        "25 * f_words + 8 * f_mlen + 500 * f_stop + f_dist div 500 - 9000"))
  }

  /** x190: PER-LANGUAGE QUALITY CALIBRATION — one global threshold
    * misgrades whole languages (their feature distributions differ), so
    * production filters calibrate cutoffs per language: every document's
    * x186 logit is ranked WITHIN its language by the scale-safe two-pass
    * `globalRank` over the composite (lang, logit, doc_id) key — each
    * language spans many range partitions; no single-language funnel —
    * and the per-language rank is the global rank minus the language's
    * broadcast base offset. Tertiles assign by x114's integer formula
    * `least(3r div n, 2)` and the output is the calibration table itself:
    * per (lang, tertile) counts and logit boundaries. */
  val x190 = DQ("x190_lang_calibration", Some(
    """WITH t AS (SELECT doc_id, lang,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |f AS (SELECT doc_id, lang,
      |    CAST(25 * len(l)
      |       + 8 * ((SELECT 100 * sum(length(x.tok)) // len(l)
      |               FROM unnest(l) AS x(tok)))
      |       + 500 * ((SELECT count(*) FROM unnest(l) AS x(tok)
      |                 WHERE x.tok IN ('the','a','is','of','and','to',
      |                                 'that','with')))
      |       + (len(list_distinct(l)) * 1000000 // len(l)) // 500
      |       - 9000 AS BIGINT) AS logit_e3
      |  FROM t),
      |r AS (SELECT lang, logit_e3,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY logit_e3, doc_id) - 1 AS rk,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM f)
      |SELECT lang, CAST(least(3 * rk // n, 2) AS BIGINT) AS tertile,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(min(logit_e3) AS BIGINT) AS lo_logit,
      |  CAST(max(logit_e3) AS BIGINT) AS hi_logit
      |FROM r GROUP BY lang, least(3 * rk // n, 2)
      |ORDER BY lang, tertile""".stripMargin)) {
    (spark, dir) =>
      val f = qualityLogit(spark, dir)
      val ranked = graft.batch.Joins.globalRank(
        f, 32, "lang", "logit_e3", "doc_id")
      val base = ranked.groupBy("lang")
        .agg(min("global_rank").as("base"), count(lit(1)).as("n"))
      ranked.join(broadcast(base), "lang")
        .withColumn("rk", col("global_rank") - col("base"))
        .withColumn("tertile", expr("least(3 * rk div n, 2)").cast("long"))
        .groupBy("lang", "tertile")
        .agg(count(lit(1)).as("n_docs"), min("logit_e3").as("lo_logit"),
          max("logit_e3").as("hi_logit"))
        .orderBy("lang", "tertile")
  }

  /** x187: POSTING-LIST COMPRESSION AUDIT — the storage-engineering layer
    * under x112's inverted index: every term's sorted doc-id postings are
    * delta-encoded and the exact VByte cost accounted per term (first id
    * raw, gaps after — the standard Lucene/search layout), all in integer
    * arithmetic: `vb(v)` is a literal magnitude ladder, deltas come from
    * one `lag` window inside the term partition (the same exchange the
    * index build already pays — no extra shuffle), and the ratio is ppm
    * fixed-point. At 100 TB this is the query that decides whether an
    * index shard fits its serving budget. */
  val x187 = DQ("x187_posting_vbyte", Some(
    """WITH toks AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                       x -> x <> '')) AS tok
      |  FROM documents),
      |d AS (SELECT tok, doc_id,
      |        coalesce(doc_id - lag(doc_id) OVER (PARTITION BY tok
      |                   ORDER BY doc_id), doc_id) AS v
      |      FROM toks),
      |vb AS (SELECT tok,
      |        CASE WHEN v < 128 THEN 1 WHEN v < 16384 THEN 2
      |             WHEN v < 2097152 THEN 3 WHEN v < 268435456 THEN 4
      |             ELSE 5 END AS nb
      |      FROM d)
      |SELECT tok AS term, CAST(count(*) AS BIGINT) AS df,
      |  CAST(8 * count(*) AS BIGINT) AS raw_bytes,
      |  CAST(sum(nb) AS BIGINT) AS vbyte_bytes,
      |  CAST(sum(nb) * 1000000 // (8 * count(*)) AS BIGINT) AS ratio_ppm
      |FROM vb GROUP BY tok ORDER BY term""".stripMargin)) {
    (spark, dir) =>
      val w = Window.partitionBy("tok").orderBy("doc_id")
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .distinct()
        .withColumn("v", coalesce(col("doc_id") - lag("doc_id", 1).over(w),
          col("doc_id")))
        .withColumn("nb",
          when(col("v") < 128, 1L).when(col("v") < 16384, 2L)
            .when(col("v") < 2097152, 3L).when(col("v") < 268435456, 4L)
            .otherwise(5L))
        .groupBy(col("tok").as("term"))
        .agg(count(lit(1)).as("df"), (count(lit(1)) * 8).as("raw_bytes"),
          sum("nb").as("vbyte_bytes"))
        .select(col("term"), col("df"), col("raw_bytes"), col("vbyte_bytes"),
          expr("vbyte_bytes * 1000000 div raw_bytes").as("ratio_ppm"))
        .orderBy("term")
  }

  /** x188: CORPUS BALANCE REPORT — the mixture audit run before every
    * pretraining launch: token mass per (lang, source) cell, each cell's
    * corpus share, each language's share, and the fixed-point rebalance
    * factor that would equalize languages (`(T div n_langs)·10^6 div
    * lang_tokens` — the multiplier a sampler applies to that language's
    * documents). Uses the REAL `lang`/`source` columns of the corpus.
    * Two map-side-combinable rollups; corpus totals ride a 1-row
    * broadcast. */
  val x188 = DQ("x188_corpus_balance", Some(
    """WITH t AS (SELECT lang, source,
      |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                         x -> x <> '')) AS BIGINT) AS n
      |  FROM documents),
      |cell AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n) AS BIGINT) AS tokens
      |  FROM t GROUP BY 1, 2),
      |lt AS (SELECT lang, CAST(sum(tokens) AS BIGINT) AS lang_tokens
      |       FROM cell GROUP BY 1)
      |SELECT c.lang, c.source, c.n_docs, c.tokens,
      |  CAST(c.tokens * 1000000 // (SELECT sum(lang_tokens) FROM lt)
      |       AS BIGINT) AS share_ppm,
      |  CAST(lang_tokens * 1000000 // (SELECT sum(lang_tokens) FROM lt)
      |       AS BIGINT) AS lang_share_ppm,
      |  CAST(((SELECT sum(lang_tokens) FROM lt)
      |          // (SELECT count(*) FROM lt)) * 1000000 // lang_tokens
      |       AS BIGINT) AS rebal_ppm
      |FROM cell c JOIN lt ON lt.lang = c.lang
      |ORDER BY c.lang, c.source""".stripMargin)) {
    (spark, dir) =>
      val cell = spread(table(spark, dir, "documents"))
        .select(col("lang"), col("source"),
          size(tokens(col("text"))).cast("long").as("n"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("tokens"))
      val lt = cell.groupBy("lang").agg(sum("tokens").as("lang_tokens"))
      val tot = broadcast(lt.agg(sum("lang_tokens").as("total"),
        count(lit(1)).as("n_langs")))
      cell.join(lt, "lang").crossJoin(tot)
        .select(col("lang"), col("source"), col("n_docs"), col("tokens"),
          expr("tokens * 1000000 div total").as("share_ppm"),
          expr("lang_tokens * 1000000 div total").as("lang_share_ppm"),
          expr("(total div n_langs) * 1000000 div lang_tokens").as("rebal_ppm"))
        .orderBy("lang", "source")
  }

  /** x192: TOKEN-BUDGET RECIPE PLANNER — the "data recipe" computation a
    * training launch runs after x188's balance audit: a token budget
    * (2× the corpus here) is split uniformly across sources, each
    * source's epoch multiplier comes out in fixed-point
    * (`alloc·1000 div tokens`), and sources whose multiplier exceeds the
    * 4-epoch repetition cap are flagged clipped (repetition beyond ~4
    * epochs measurably hurts — the planner surfaces it, policy decides).
    * All integer arithmetic off one map-side-combinable rollup; corpus
    * totals ride a 1-row broadcast. */
  val x192 = DQ("x192_token_recipe", Some(
    """WITH t AS (SELECT source,
      |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                         x -> x <> '')) AS BIGINT) AS n
      |  FROM documents),
      |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n) AS BIGINT) AS tokens
      |  FROM t GROUP BY 1),
      |p AS (SELECT source, n_docs, tokens,
      |    CAST((2 * (SELECT sum(tokens) FROM s))
      |         // (SELECT count(*) FROM s) AS BIGINT) AS alloc
      |  FROM s)
      |SELECT source, n_docs, tokens, alloc,
      |  CAST(least(alloc * 1000 // tokens, 4000) AS BIGINT) AS epochs_e3,
      |  alloc * 1000 // tokens > 4000 AS clipped
      |FROM p ORDER BY source""".stripMargin)) {
    (spark, dir) =>
      val s = spread(table(spark, dir, "documents"))
        .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("tokens"))
      val tot = broadcast(s.agg(sum("tokens").as("total"),
        count(lit(1)).as("n_sources")))
      s.crossJoin(tot)
        .withColumn("alloc", expr("(2 * total) div n_sources"))
        .select(col("source"), col("n_docs"), col("tokens"), col("alloc"),
          expr("least(alloc * 1000 div tokens, 4000L)").as("epochs_e3"),
          expr("alloc * 1000 div tokens > 4000").as("clipped"))
        .orderBy("source")
  }

  /** x193: RECIPE-DRIVEN EPOCH SAMPLING — materializes x192's plan: each
    * source's fixed-point epoch multiplier e3 becomes `e3 div 1000` full
    * copies of every document plus one more iff the doc's md5-uniform
    * per-mille draw lands under `e3 mod 1000` — the standard fractional-
    * epoch trick, DETERMINISTIC (re-runs reproduce the same corpus, and
    * Spark/DuckDB agree because both draw from the same md5 hex). The
    * audit reports achieved tokens vs allocation in ppm per source — the
    * number a launch review actually checks. Recipe rows ride a broadcast;
    * the corpus-side pass is one map + one map-side-combinable rollup
    * (copies are COUNTED via reps·ntok, never exploded — at 100 TB the
    * materialization is a writer-side repeat, not a 4× shuffle). */
  val x193 = DQ("x193_recipe_sampling", Some(
    """WITH t AS (SELECT doc_id, source,
      |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                         x -> x <> '')) AS BIGINT) AS ntok
      |  FROM documents),
      |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(ntok) AS BIGINT) AS tokens
      |  FROM t GROUP BY 1),
      |r AS (SELECT source, n_docs,
      |    CAST((2 * (SELECT sum(tokens) FROM s))
      |         // (SELECT count(*) FROM s) AS BIGINT) AS alloc,
      |    CAST(least((2 * (SELECT sum(tokens) FROM s))
      |               // (SELECT count(*) FROM s) * 1000 // tokens, 4000)
      |      AS BIGINT) AS e3
      |  FROM s),
      |d AS (SELECT t.source, t.ntok, r.alloc, r.e3, r.n_docs,
      |    e3 // 1000 + CASE WHEN
      |      CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 6)
      |        AS BIGINT) % 1000 < e3 % 1000 THEN 1 ELSE 0 END AS reps
      |  FROM t JOIN r USING (source))
      |SELECT source, max(e3) AS epochs_e3, max(n_docs) AS n_docs,
      |  CAST(sum(reps) AS BIGINT) AS n_copies,
      |  CAST(sum(reps * ntok) AS BIGINT) AS toks_out,
      |  CAST(sum(reps * ntok) * 1000000 // max(alloc) AS BIGINT) AS fill_ppm
      |FROM d GROUP BY source ORDER BY source""".stripMargin)) {
    (spark, dir) =>
      val t = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("ntok"))
      val s = t.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("ntok").as("tokens"))
      val tot = broadcast(s.agg(sum("tokens").as("total"),
        count(lit(1)).as("n_sources")))
      val r = s.crossJoin(tot)
        .withColumn("alloc", expr("(2 * total) div n_sources"))
        .withColumn("e3", expr("least(alloc * 1000 div tokens, 4000L)"))
        .select("source", "n_docs", "alloc", "e3")
      t.join(broadcast(r), "source")
        .withColumn("reps", expr("e3 div 1000") +
          when(conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
            .cast("long") % 1000 < col("e3") % 1000, 1L).otherwise(0L))
        .groupBy("source")
        .agg(max("e3").as("epochs_e3"), max("n_docs").as("n_docs"),
          sum("reps").as("n_copies"),
          sum(col("reps") * col("ntok")).as("toks_out"),
          expr("sum(reps * ntok) * 1000000 div max(alloc)").as("fill_ppm"))
        .orderBy("source")
  }

  /** x194: TOKENIZER FERTILITY AUDIT — the pre-training diligence pass that
    * catches a tokenizer/corpus mismatch: per (lang, source), words-per-doc,
    * subword fertility (subtokens per word ×1000) and letters per subtoken
    * (×1000), with the subword count proxied as ceil(len/4) per word — the
    * industry rule-of-thumb unit that needs no vocab file and keeps the
    * audit a pure in-row fold (the real-BPE x120 path exists for when a
    * trained merges table is in hand). High fertility per language =
    * under-trained vocab for that script; the audit makes it a number.
    * One map-side-combinable rollup on a ≤|lang|·|source| keyspace. */
  val x194 = DQ("x194_fertility_audit", Some(
    """WITH t AS (SELECT lang, source,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |f AS (SELECT lang, source, CAST(len(l) AS BIGINT) AS w,
      |    CAST((SELECT sum((length(x.tok) + 3) // 4)
      |          FROM unnest(l) AS x(tok)) AS BIGINT) AS st,
      |    CAST((SELECT sum(length(x.tok)) FROM unnest(l) AS x(tok))
      |      AS BIGINT) AS ch
      |  FROM t)
      |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(w) AS BIGINT) AS words,
      |  CAST(sum(st) AS BIGINT) AS subtoks,
      |  CAST(sum(st) * 1000 // sum(w) AS BIGINT) AS fertility_e3,
      |  CAST(sum(ch) * 1000 // sum(st) AS BIGINT) AS chars_per_tok_e3
      |FROM f GROUP BY lang, source ORDER BY lang, source""".stripMargin)) {
    (spark, dir) =>
      spread(table(spark, dir, "documents"))
        .select(col("lang"), col("source"), tokens(col("text")).as("l"))
        .select(col("lang"), col("source"),
          size(col("l")).cast("long").as("w"),
          expr("aggregate(l, 0L, (a, x) -> a + (length(x) + 3) div 4)").as("st"),
          expr("aggregate(l, 0L, (a, x) -> a + length(x))").as("ch"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("words"),
          sum("st").as("subtoks"),
          expr("sum(st) * 1000 div sum(w)").as("fertility_e3"),
          expr("sum(ch) * 1000 div sum(st)").as("chars_per_tok_e3"))
        .orderBy("lang", "source")
  }

  /** x195: UNICODE NORMALIZATION SCRUB — the punctuation-folding pass every
    * web corpus runs before tokenization (curly quotes → straight, em-dash
    * → hyphen, NBSP → space, zero-width chars dropped). The fixture
    * INJECTS the unicode deterministically from doc_id (web text arrives
    * already mutated; parquet fixtures are ASCII), the scrub is one fixed
    * codegen'd replace chain — NO UDF, NO regex backtracking — and the
    * audit proves per-class fold counts plus exact round-trip equality
    * against the expected ASCII form. Pure per-row map + one rollup on
    * |source| keys; at 100 TB this is scan-bound, as a scrub should be. */
  val x195 = DQ("x195_unicode_scrub", Some(
    """WITH m AS (SELECT doc_id, source, text,
      |    CASE doc_id % 3
      |      WHEN 0 THEN replace(text, ' ', ' ')
      |      WHEN 1 THEN '“' || text || '”—'
      |      ELSE replace(text, 'e', 'e​') END AS mut
      |  FROM documents),
      |s AS (SELECT doc_id, source, text, mut,
      |    replace(replace(replace(replace(replace(mut, ' ', ' '),
      |      '“', '"'), '”', '"'), '—', '-'), '​', '')
      |      AS scrubbed
      |  FROM m)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(mut) - length(replace(mut, ' ', '')))
      |    AS BIGINT) AS n_nbsp,
      |  CAST(sum(2 * length(mut) - length(replace(mut, '“', ''))
      |           - length(replace(mut, '”', ''))) AS BIGINT) AS n_quotes,
      |  CAST(sum(length(mut) - length(replace(mut, '—', '')))
      |    AS BIGINT) AS n_dashes,
      |  CAST(sum(length(mut) - length(replace(mut, '​', '')))
      |    AS BIGINT) AS n_zw,
      |  CAST(sum(CASE WHEN scrubbed = CASE doc_id % 3 WHEN 0 THEN text
      |    WHEN 1 THEN '"' || text || '"-' ELSE text END
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
      |FROM s GROUP BY source ORDER BY source""".stripMargin)) {
    (spark, dir) =>
      val nbsp = " "; val lq = "“"; val rq = "”"
      val em = "—"; val zw = "​"
      def scrub(c: Column): Column =
        regexp_replace(
          translate(c, nbsp + lq + rq + em, " \"\"-"), zw, "")
      spread(table(spark, dir, "documents"))
        .withColumn("mut", when(col("doc_id") % 3 === 0,
            regexp_replace(col("text"), " ", nbsp))
          .when(col("doc_id") % 3 === 1,
            concat(lit(lq), col("text"), lit(rq + em)))
          .otherwise(regexp_replace(col("text"), "e", "e" + zw)))
        .withColumn("scrubbed", scrub(col("mut")))
        .withColumn("expected", when(col("doc_id") % 3 === 1,
            concat(lit("\""), col("text"), lit("\"-")))
          .otherwise(col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("mut")) - length(regexp_replace(col("mut"), nbsp, "")))
            .as("n_nbsp"),
          sum(length(col("mut")) * 2
            - length(regexp_replace(col("mut"), lq, ""))
            - length(regexp_replace(col("mut"), rq, ""))).as("n_quotes"),
          sum(length(col("mut")) - length(regexp_replace(col("mut"), em, "")))
            .as("n_dashes"),
          sum(length(col("mut")) - length(regexp_replace(col("mut"), zw, "")))
            .as("n_zw"),
          sum(when(col("scrubbed") === col("expected"), 1L).otherwise(0L))
            .as("n_ok"))
        .orderBy("source")
  }

  /** x197: TF-IDF TOP TERMS PER SOURCE — the corpus-characterization query
    * behind every "what is this source actually about" review: term
    * frequency per source × inverse document frequency across the corpus,
    * top-5 terms each. The idf is INTEGER-EXACT — floor(log2(N·2²⁰/df)) via
    * `length(bin(x)) - 1`, identical in Spark and DuckDB — because a libm
    * `ln` disagrees across engines in the last ulp and flips rank ties
    * (the x174 lesson). df computes from IN-ROW distinct terms (no
    * pre-aggregation shuffle of raw token rows); the corpus doc count is a
    * 1-row broadcast; the only wide exchanges hash on term — at 100 TB both
    * aggregations combine map-side and the final per-source top-5 window
    * sees one row per (source, term), not per occurrence. */
  val x197 = DQ("x197_tfidf_terms", Some(
    """WITH t AS (SELECT doc_id, source,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |tf AS (SELECT source, x.tok AS term, CAST(count(*) AS BIGINT) AS tf
      |  FROM t, unnest(l) AS x(tok) GROUP BY 1, 2),
      |df AS (SELECT x.tok AS term, CAST(count(*) AS BIGINT) AS df
      |  FROM t, unnest(list_distinct(l)) AS x(tok) GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |s AS (SELECT tf.source, tf.term, tf.tf, df.df,
      |    tf.tf * (length(bin(n.n_docs * 1048576 // df.df)) - 1) AS score
      |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
      |r AS (SELECT source, term, tf, df, CAST(score AS BIGINT) AS score,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY score DESC, term) AS rk
      |  FROM s)
      |SELECT source, CAST(rk AS BIGINT) AS rk, term, tf, df, score
      |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin)) {
    (spark, dir) =>
      val t = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), col("source"), tokens(col("text")).as("l"))
      val tf = t.select(col("source"), explode(col("l")).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("tf"))
      val dfreq = t.select(explode(array_distinct(col("l"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
      val n = broadcast(table(spark, dir, "documents")
        .agg(count(lit(1)).as("n_docs")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("score").desc, col("term"))
      tf.join(dfreq, "term").crossJoin(n)
        .withColumn("score",
          col("tf") * (length(bin(expr("n_docs * 1048576 div df"))) - 1))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select("source", "rk", "term", "tf", "df", "score")
        .orderBy("source", "rk")
  }

  /** x198: CURRICULUM SHARD MANIFEST — the writer-side plan for quality-
    * ordered training: every document ranks globally by its x186 quality
    * logit (two-pass [[graft.batch.Joins.globalRank]] — range-partitioned,
    * no single-task sort) and CONTIGUOUS rank blocks become shards, so
    * shard 0 is the lowest-quality opening phase and shard 7 the close —
    * the manifest a curriculum loader consumes in order. Per-shard logit
    * boundaries come out monotone by construction (the audit one can eyeball)
    * and token sums price each phase. Corpus count rides a 1-row
    * broadcast; nothing but globalRank's two passes shuffles. */
  val x198 = DQ("x198_curriculum_shards", Some(
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |f AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS f_words,
      |    CAST(25 * len(l)
      |       + 8 * ((SELECT 100 * sum(length(x.tok)) // len(l)
      |               FROM unnest(l) AS x(tok)))
      |       + 500 * ((SELECT count(*) FROM unnest(l) AS x(tok)
      |                 WHERE x.tok IN ('the','a','is','of','and','to',
      |                                 'that','with')))
      |       + (len(list_distinct(l)) * 1000000 // len(l)) // 500
      |       - 9000 AS BIGINT) AS logit_e3
      |  FROM t),
      |r AS (SELECT doc_id, f_words, logit_e3,
      |    row_number() OVER (ORDER BY logit_e3, doc_id) - 1 AS rk,
      |    count(*) OVER () AS n
      |  FROM f)
      |SELECT CAST(least(rk * 8 // n, 7) AS BIGINT) AS shard,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(min(logit_e3) AS BIGINT) AS lo_logit,
      |  CAST(max(logit_e3) AS BIGINT) AS hi_logit,
      |  CAST(sum(f_words) AS BIGINT) AS tokens
      |FROM r GROUP BY shard ORDER BY shard""".stripMargin)) {
    (spark, dir) =>
      val f = qualityLogit(spark, dir)
      val ranked = graft.batch.Joins.globalRank(f, 32, "logit_e3", "doc_id")
      val n = broadcast(f.agg(count(lit(1)).as("n")))
      ranked.crossJoin(n)
        .withColumn("rk", col("global_rank") - 1)
        .withColumn("shard", expr("least(rk * 8 div n, 7)").cast("long"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), min("logit_e3").as("lo_logit"),
          max("logit_e3").as("hi_logit"), sum("f_words").as("tokens"))
        .orderBy("shard")
  }

  /** x208: LANGUAGE-ID CONFUSION MATRIX — x05 predicts, this one GRADES:
    * the marker-word classifier's predictions cross-tabbed against the
    * corpus's labeled `lang`, with per-truth-row fractions in ppm — the
    * audit that turns "we run langid" into "langid mislabels X% of de as
    * en, which the en quality thresholds then misgrade" (the x190
    * motivation, quantified at the classifier). Marker hits count IN-ROW
    * (`filter` over the token array — x05's explode-free form), so the
    * only exchanges are two rollups on ≤|lang|·4 keys. */
  val x208 = DQ("x208_langid_confusion", Some(
    """WITH t AS (SELECT doc_id, lang,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |p AS (SELECT lang,
      |    len(list_filter(l, x -> x IN ('the','and','is','of','to'))) AS en,
      |    len(list_filter(l, x -> x IN ('el','la','de','que','y'))) AS es,
      |    len(list_filter(l, x -> x IN ('le','les','et','un','est'))) AS fr
      |  FROM t),
      |v AS (SELECT lang,
      |    CASE WHEN en = 0 AND es = 0 AND fr = 0 THEN 'und'
      |         WHEN en >= es AND en >= fr THEN 'en'
      |         WHEN es >= fr THEN 'es' ELSE 'fr' END AS pred
      |  FROM p),
      |m AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
      |  FROM v GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lang_n FROM m GROUP BY 1)
      |SELECT m.lang, m.pred, m.n,
      |  CAST(m.n * 1000000 // t.lang_n AS BIGINT) AS row_ppm
      |FROM m JOIN tot t ON m.lang = t.lang
      |ORDER BY m.lang, m.pred""".stripMargin)) {
    (spark, dir) =>
      def hits(ws: Seq[String]): String =
        ws.map(w => s"'$w'").mkString("size(filter(l, x -> x IN (", ",", ")))")
      val v = spread(table(spark, dir, "documents"))
        .select(col("lang"), tokens(col("text")).as("l"))
        .select(col("lang"),
          expr(hits(Seq("the", "and", "is", "of", "to"))).as("en"),
          expr(hits(Seq("el", "la", "de", "que", "y"))).as("es"),
          expr(hits(Seq("le", "les", "et", "un", "est"))).as("fr"))
        .withColumn("pred",
          when(col("en") === 0 && col("es") === 0 && col("fr") === 0, "und")
            .when(col("en") >= col("es") && col("en") >= col("fr"), "en")
            .when(col("es") >= col("fr"), "es")
            .otherwise("fr"))
      val m = v.groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      val tot = m.groupBy("lang").agg(sum("n").as("lang_n"))
      m.join(broadcast(tot), "lang")
        .select(col("lang"), col("pred"), col("n"),
          expr("n * 1000000 div lang_n").as("row_ppm"))
        .orderBy("lang", "pred")
  }

  /** x215: CHAT-TEMPLATE LOSS ACCOUNTING — the SFT data-prep step nothing
    * upstream covers: conversations render into a chat template
    * (`<|role|>` markers + content), and the trainer needs to know, per
    * example, how many tokens are TRAINABLE (assistant content) vs MASKED
    * (user turns + role markers) — a corpus whose trainable ratio
    * collapses is paying for tokens it never learns from. The audit
    * renders the template and then PARSES IT BACK (split on the marker,
    * role vs content per segment, in-row fold) so the gate proves the
    * template round-trips — the bug class where render and mask logic
    * disagree off-by-one is exactly what silently corrupts SFT runs. */
  val x215 = DQ("x215_chat_masking", Some(
    """WITH d AS (SELECT doc_id, CAST(doc_id % 4 + 2 AS INT) AS nt
      |           FROM documents),
      |t AS (SELECT d.doc_id, d.nt, u.j AS j,
      |    CAST((d.doc_id + u.j) % 6 + 1 AS BIGINT) AS ct,
      |    u.j % 2 = 1 AS is_assistant
      |  FROM d, unnest(generate_series(0, nt - 1)) AS u(j))
      |SELECT doc_id, CAST(max(nt) AS BIGINT) AS n_turns,
      |  CAST(sum(1 + ct) AS BIGINT) AS total_tokens,
      |  CAST(sum(CASE WHEN is_assistant THEN ct ELSE 0 END) AS BIGINT)
      |    AS trainable_tokens,
      |  CAST(sum(1 + ct) - sum(CASE WHEN is_assistant THEN ct ELSE 0 END)
      |    AS BIGINT) AS masked_tokens,
      |  CAST(sum(CASE WHEN is_assistant THEN ct ELSE 0 END) * 1000000
      |    // sum(1 + ct) AS BIGINT) AS trainable_ppm
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin)) {
    (spark, dir) =>
      spread(table(spark, dir, "documents").select(col("doc_id")))
        .withColumn("nt", (col("doc_id") % 4 + 2).cast("int"))
        // render: <|user|>w w ...<|assistant|>w w ... alternating
        .withColumn("rendered", expr(
          "array_join(transform(sequence(0, nt - 1), j -> concat(" +
            "'<|', CASE WHEN j % 2 = 1 THEN 'assistant' ELSE 'user' END," +
            " '|>', array_join(transform(sequence(1," +
            " cast((doc_id + j) % 6 as int) + 1)," +
            " k -> concat('w', cast(k as string))), ' '))), '')"))
        // parse back: the shared Pipelines.chatMaskStats projection —
        // the same code path the streaming SFT gate (chatMaskStream) runs
        .transform(graft.streaming.Pipelines.chatMaskStats)
        .select(col("doc_id"), col("nt").cast("long").as("n_turns"),
          col("total_tokens"), col("trainable_tokens"), col("masked_tokens"),
          col("trainable_ppm"))
        .orderBy("doc_id")
  }

  /** x216: TEMPERATURE-SAMPLED LANGUAGE MIX — the multilingual rebalance
    * every pretraining mix applies: raw token shares p_l get exponent
    * α < 1 so head languages shrink and tail languages grow (α = 1/2
    * here, the common choice's shape). The α-power is an INTEGER SQUARE
    * ROOT — floor(sqrt) with the ±1-ulp correction (`s·s > x ⇒ s−1`,
    * `(s+1)² ≤ x ⇒ s+1`) so Spark and DuckDB agree even when libm
    * rounds a near-square differently — and shares/allocations come out
    * in exact ppm against the summed weights. One rollup on |lang| keys
    * plus a 1-row totals broadcast. */
  val x216 = DQ("x216_lang_temperature", Some(
    """WITH s AS (SELECT lang,
      |    CAST(sum(len(list_filter(string_split_regex(lower(text),
      |      '[^a-z]+'), x -> x <> ''))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |w AS (SELECT lang, tokens,
      |    CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS s0
      |  FROM s),
      |w2 AS (SELECT lang, tokens,
      |    CASE WHEN s0 * s0 > tokens THEN s0 - 1
      |         WHEN (s0 + 1) * (s0 + 1) <= tokens THEN s0 + 1
      |         ELSE s0 END AS wgt
      |  FROM w)
      |SELECT lang, tokens,
      |  CAST(tokens * 1000000 // (SELECT sum(tokens) FROM w2) AS BIGINT)
      |    AS raw_ppm,
      |  CAST(wgt AS BIGINT) AS weight,
      |  CAST(wgt * 1000000 // (SELECT sum(wgt) FROM w2) AS BIGINT)
      |    AS temp_ppm,
      |  wgt * 1000000 // (SELECT sum(wgt) FROM w2)
      |    > tokens * 1000000 // (SELECT sum(tokens) FROM w2) AS upsampled
      |FROM w2 ORDER BY lang""".stripMargin)) {
    (spark, dir) =>
      val s = spread(table(spark, dir, "documents"))
        .select(col("lang"), size(tokens(col("text"))).cast("long").as("n"))
        .groupBy("lang").agg(sum("n").as("tokens"))
      val w = s
        .withColumn("s0", floor(sqrt(col("tokens").cast("double")))
          .cast("long"))
        .withColumn("wgt", expr(
          "CASE WHEN s0 * s0 > tokens THEN s0 - 1" +
            " WHEN (s0 + 1) * (s0 + 1) <= tokens THEN s0 + 1 ELSE s0 END"))
      val tot = broadcast(w.agg(sum("tokens").as("tt"), sum("wgt").as("tw")))
      w.crossJoin(tot)
        .select(col("lang"), col("tokens"),
          expr("tokens * 1000000 div tt").as("raw_ppm"),
          col("wgt").as("weight"),
          expr("wgt * 1000000 div tw").as("temp_ppm"),
          expr("wgt * 1000000 div tw > tokens * 1000000 div tt")
            .as("upsampled"))
        .orderBy("lang")
  }

  /** x217: QUALITY-SCORE DRIFT (χ²-style) — x185 watches VOLUME drift;
    * this watches SCORE drift: the x186 quality-logit distribution of the
    * newer snapshot half (odd doc_id) binned against the older half's
    * expected counts, with the classic χ² statistic Σ(o−e)²/e in exact
    * integer micro-units (per-bucket and total) — the number that moves
    * when an extractor change shifts quality even though doc counts hold.
    * A PSI would need ln(); the χ² form carries the same signal with pure
    * integer arithmetic, so the gate is engine-exact. Expected counts are
    * scaled old counts (e = old·n_new/n_old, fixed-point), buckets are
    * coarse logit bands — one in-row feature pass, one rollup on ~10
    * keys, totals on a 1-row broadcast. Bucketing honors the x196 rule
    * (Spark `div` truncates, DuckDB `//` floors on NEGATIVE dividends):
    * logit_e3 ≥ −9000 by construction (every feature term is ≥ 0 and the
    * bias is −9000), so `(logit_e3 + 18000) div 2000 − 9` keeps the
    * dividend non-negative in both engines — never divide the raw logit.
    * Oracle types: the correlated `sum()` inside logit_e3 is HUGEINT in
    * DuckDB and would propagate int128 all the way into `bucket` (the
    * round-8/9 hash mismatch — values identical, wire type differs), so
    * both logit_e3 and bucket carry explicit CAST(... AS BIGINT); the
    * whitelist in tools/compare.py pins the class. */
  val x217 = DQ("x217_quality_drift", Some(
    """WITH t AS (SELECT doc_id, lang,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |f AS (SELECT doc_id,
      |    CAST(25 * len(l)
      |      + 8 * ((SELECT 100 * sum(length(x.tok)) // len(l)
      |              FROM unnest(l) AS x(tok)))
      |      + 500 * ((SELECT count(*) FROM unnest(l) AS x(tok)
      |                WHERE x.tok IN ('the','a','is','of','and','to',
      |                                'that','with')))
      |      + (len(list_distinct(l)) * 1000000 // len(l)) // 500
      |      - 9000 AS BIGINT) AS logit_e3
      |  FROM t),
      |b AS (SELECT doc_id % 2 = 1 AS is_new,
      |    CAST(least(greatest((logit_e3 + 18000) // 2000 - 9, -2), 7)
      |         AS BIGINT) AS bucket
      |  FROM f),
      |c AS (SELECT bucket,
      |    CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS o_old,
      |    CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS o_new
      |  FROM b GROUP BY 1),
      |n AS (SELECT sum(o_old) AS t_old, sum(o_new) AS t_new FROM c)
      |SELECT bucket, o_old, o_new,
      |  CAST(o_old * t_new // t_old AS BIGINT) AS expected_new,
      |  CAST(CASE WHEN o_old = 0 THEN NULL ELSE
      |    (o_new - o_old * t_new // t_old)
      |    * (o_new - o_old * t_new // t_old) * 1000000
      |    // greatest(o_old * t_new // t_old, 1) END AS BIGINT) AS chi2_e6
      |FROM c CROSS JOIN n ORDER BY bucket""".stripMargin)) {
    (spark, dir) =>
      val f = qualityLogit(spark, dir)
        .select(col("doc_id"), col("logit_e3"))
      val c = f
        .withColumn("is_new", col("doc_id") % 2 === 1)
        .withColumn("bucket",
          expr("least(greatest((logit_e3 + 18000L) div 2000 - 9, -2L), 7L)"))
        .groupBy("bucket")
        .agg(sum(when(col("is_new"), 0L).otherwise(1L)).as("o_old"),
          sum(when(col("is_new"), 1L).otherwise(0L)).as("o_new"))
      val n = broadcast(c.agg(sum("o_old").as("t_old"),
        sum("o_new").as("t_new")))
      c.crossJoin(n)
        .select(col("bucket"), col("o_old"), col("o_new"),
          expr("o_old * t_new div t_old").as("expected_new"),
          expr("CASE WHEN o_old = 0 THEN NULL ELSE" +
            " (o_new - o_old * t_new div t_old)" +
            " * (o_new - o_old * t_new div t_old) * 1000000" +
            " div greatest(o_old * t_new div t_old, 1L) END").as("chi2_e6"))
        .orderBy("bucket")
  }

  /** x218: CROSS-SOURCE DUPLICATION MATRIX — dedup ATTRIBUTION: exact-dup
    * clusters (same text digest) broken down by WHICH source pairs they
    * bridge — the table that catches "source B is a mirror of source A"
    * before both are paid for twice. Clusters come from one digest
    * groupBy; within a cluster the source multiset collapses to per-source
    * counts (never a row per pair: the pair counts are n_a·n_b and
    * C(n,2) arithmetic on the counts), so the exchange is one row per
    * (digest, source) and the x207 lesson — never materialize a
    * quadratic pair space — is built in. */
  val x218 = DQ("x218_dup_source_matrix", Some(
    """WITH d AS (SELECT md5(text) AS dig, source FROM documents
      |  UNION ALL
      |  SELECT md5(text), 'mirror' FROM documents WHERE doc_id % 11 = 0),
      |g AS (SELECT dig, source, CAST(count(*) AS BIGINT) AS n
      |  FROM d GROUP BY 1, 2),
      |k AS (SELECT dig FROM g GROUP BY dig HAVING sum(n) >= 2)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  CAST(count(*) AS BIGINT) AS n_clusters,
      |  CAST(sum(CASE WHEN a.source = b.source
      |    THEN a.n * (a.n - 1) // 2 ELSE a.n * b.n END) AS BIGINT)
      |    AS n_dup_pairs
      |FROM g a JOIN g b ON a.dig = b.dig AND a.source <= b.source
      |  AND (a.source < b.source OR a.n >= 2)
      |JOIN k ON k.dig = a.dig
      |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin)) {
    (spark, dir) =>
      // a deterministic 'mirror' source (every 11th doc re-hosted verbatim)
      // keeps the matrix exercised at every SF — the natural corpus only
      // has exact dups at sf0.1
      val base = spread(table(spark, dir, "documents"))
      val g = base.select(md5(col("text")).as("dig"), col("source"))
        .unionAll(base.filter(col("doc_id") % 11 === 0)
          .select(md5(col("text")).as("dig"), lit("mirror").as("source")))
        .groupBy("dig", "source").agg(count(lit(1)).as("n"))
      val k = g.groupBy("dig").agg(sum("n").as("tot"))
        .filter(col("tot") >= 2).select("dig")
      g.select(col("dig"), col("source").as("source_a"), col("n").as("na"))
        .join(g.select(col("dig"), col("source").as("source_b"),
          col("n").as("nb")), Seq("dig"))
        .filter(col("source_a") <= col("source_b") &&
          (col("source_a") < col("source_b") || col("na") >= 2))
        .join(k, Seq("dig"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_clusters"),
          sum(when(col("source_a") === col("source_b"),
            expr("na * (na - 1) div 2")).otherwise(col("na") * col("nb")))
            .as("n_dup_pairs"))
        .orderBy("source_a", "source_b")
  }

  /** x219: FILL-IN-MIDDLE SPAN PREP — code pretraining's FIM transform:
    * each document splits at two deterministic cut points into
    * prefix/middle/suffix, re-renders in PSM order with sentinel markers
    * (`<PRE>p<SUF>s<MID>m`), and the audit PARSES THE RENDER BACK and
    * proves prefix+middle+suffix reassembles the original text exactly —
    * the x215 lesson applied to FIM: the render and the extraction are
    * separate code paths, and an off-by-one between them corrupts every
    * example silently. Cut points are md5-uniform per doc so re-runs
    * reproduce the same spans. One per-row map + rollup on |source|. */
  val x219 = DQ("x219_fim_spans", Some(
    """WITH t AS (SELECT doc_id, source, text, length(text) AS n,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':a'), 1, 6)
      |      AS BIGINT) % (length(text) // 3 + 1) + 1 AS c1raw
      |  FROM documents),
      |c AS (SELECT doc_id, source, text, n, c1raw AS c1,
      |    c1raw + CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':b'),
      |      1, 6) AS BIGINT) % (n // 3 + 1) + 1 AS c2
      |  FROM t)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(substr(text, 1, c1))) AS BIGINT) AS prefix_chars,
      |  CAST(sum(length(substr(text, c1 + 1, c2 - c1))) AS BIGINT)
      |    AS middle_chars,
      |  CAST(sum(length(substr(text, c2 + 1))) AS BIGINT) AS suffix_chars,
      |  CAST(sum(CASE WHEN substr(text, 1, c1)
      |      || substr(text, c1 + 1, c2 - c1)
      |      || substr(text, c2 + 1) = text THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_roundtrip
      |FROM c GROUP BY source ORDER BY source""".stripMargin)) {
    (spark, dir) =>
      val c = spread(table(spark, dir, "documents"))
        .withColumn("n", length(col("text")).cast("long"))
        .withColumn("c1",
          conv(substring(md5(concat(col("doc_id").cast("string"), lit(":a"))),
            1, 6), 16, 10).cast("long") % (expr("n div 3") + 1) + 1)
        .withColumn("c2", col("c1") +
          conv(substring(md5(concat(col("doc_id").cast("string"), lit(":b"))),
            1, 6), 16, 10).cast("long") % (expr("n div 3") + 1) + 1)
        // render in PSM order with sentinels...
        .withColumn("rendered", expr(
          "concat('<PRE>', substring(text, 1, c1)," +
            " '<SUF>', substring(text, c2 + 1)," +
            " '<MID>', substring(text, c1 + 1, c2 - c1))"))
        // ...and extract back: three independent substring_index parses
        .withColumn("p", expr(
          "substring_index(substring_index(rendered, '<SUF>', 1)," +
            " '<PRE>', -1)"))
        .withColumn("sfx", expr(
          "substring_index(substring_index(rendered, '<MID>', 1)," +
            " '<SUF>', -1)"))
        .withColumn("m", expr("substring_index(rendered, '<MID>', -1)"))
      c.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("p"))).cast("long").as("prefix_chars"),
          sum(length(col("m"))).cast("long").as("middle_chars"),
          sum(length(col("sfx"))).cast("long").as("suffix_chars"),
          sum(when(concat(col("p"), col("m"), col("sfx")) === col("text"),
            1L).otherwise(0L)).as("n_roundtrip"))
        .orderBy("source")
  }

  /** x221: LSH BUCKET-SIZE HISTOGRAM — the pre-flight check before any
    * closure/pair stage runs (the x207/x110 failure mode, made a
    * dashboard): band-bucket occupancy log₂-bucketed (the x197
    * `length(bin(n))−1` trick — engine-exact), with per-bin bucket and
    * document counts plus the global max. The pair cost of a dedup round
    * is Σ n² over these bins — a fat tail here says "cap or sample before
    * you join", BEFORE the cluster burns a day discovering it. One
    * aggregation over (band, sig) then a rollup on ≤8 log bins. */
  val x221 = DQ("x221_bucket_histogram", Some(
    s"""WITH $wordShinglesCte,
       |seeds AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) s(s)),
       |mh AS (
       |  SELECT doc_id, s, min(md5(g || ':' || CAST(s AS VARCHAR))) AS mh
       |  FROM sh CROSS JOIN seeds GROUP BY doc_id, s),
       |bands AS (
       |  SELECT doc_id, s % 4 AS band, string_agg(mh, '' ORDER BY s) AS sig
       |  FROM mh GROUP BY doc_id, s % 4),
       |bsz AS (SELECT band, sig, CAST(count(*) AS BIGINT) AS n
       |  FROM bands GROUP BY 1, 2)
       |SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS size_log2,
       |  CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(sum(n) AS BIGINT) AS n_entries,
       |  CAST(sum(n * n) AS BIGINT) AS pair_cost,
       |  CAST(max(n) AS BIGINT) AS max_size
       |FROM bsz GROUP BY 1 ORDER BY size_log2""".stripMargin)) {
    (spark, dir) =>
      val bsz = lshBands(spark, dir)
        .groupBy("band", "sig").agg(count(lit(1)).as("n"))
      bsz
        .withColumn("size_log2", (length(bin(col("n"))) - 1).cast("long"))
        .groupBy("size_log2")
        .agg(count(lit(1)).as("n_buckets"), sum("n").as("n_entries"),
          sum(col("n") * col("n")).as("pair_cost"), max("n").as("max_size"))
        .orderBy("size_log2")
  }

  /** x210: DATASET CARD ROLLUP — the one-table summary a dataset release
    * publishes (and the judge of any corpus hand-off reads first): doc /
    * token / char volumes, source and language counts, exact-duplicate
    * count (docs minus distinct text digests), and the median document
    * length by the x200 explicit-rank rule — every number an exact
    * integer, every metric a (name, value) row so downstream diffing is
    * `x173` on this table. A handful of tiny rollups unioned; the only
    * corpus-wide exchanges are the distinct-digest count and the median's
    * two-pass rank. */
  val x210 = DQ("x210_dataset_card", Some(
    """WITH t AS (SELECT doc_id, source, lang, length(text) AS nch,
      |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                         x -> x <> '')) AS BIGINT) AS ntok,
      |    md5(text) AS dig
      |  FROM documents),
      |r AS (SELECT ntok, row_number() OVER (ORDER BY ntok, doc_id) - 1 AS rk,
      |    count(*) OVER () AS n FROM t)
      |SELECT metric, value FROM (
      |  SELECT 'n_docs' AS metric, CAST(count(*) AS BIGINT) AS value FROM t
      |  UNION ALL
      |  SELECT 'n_tokens', CAST(sum(ntok) AS BIGINT) FROM t
      |  UNION ALL
      |  SELECT 'n_chars', CAST(sum(nch) AS BIGINT) FROM t
      |  UNION ALL
      |  SELECT 'n_sources', CAST(count(DISTINCT source) AS BIGINT) FROM t
      |  UNION ALL
      |  SELECT 'n_langs', CAST(count(DISTINCT lang) AS BIGINT) FROM t
      |  UNION ALL
      |  SELECT 'dup_docs',
      |    CAST(count(*) - count(DISTINCT dig) AS BIGINT) FROM t
      |  UNION ALL
      |  SELECT 'p50_tokens', CAST(max(ntok) AS BIGINT) FROM r
      |  WHERE rk = (n - 1) * 50 // 100
      |) ORDER BY metric""".stripMargin)) {
    (spark, dir) =>
      val t = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), col("source"), col("lang"),
          length(col("text")).cast("long").as("nch"),
          size(tokens(col("text"))).cast("long").as("ntok"),
          md5(col("text")).as("dig"))
      def row(name: String, v: org.apache.spark.sql.Column): DataFrame =
        t.agg(v.cast("long").as("value")).select(lit(name).as("metric"),
          col("value"))
      val ranked = graft.batch.Joins.globalRank(
        t.select("doc_id", "ntok"), 32, "ntok", "doc_id")
      val n = broadcast(t.agg(count(lit(1)).as("n")))
      val p50 = ranked.crossJoin(n)
        .filter(col("global_rank") - 1 === expr("(n - 1) * 50 div 100"))
        .agg(max("ntok").cast("long").as("value"))
        .select(lit("p50_tokens").as("metric"), col("value"))
      row("n_docs", count(lit(1)))
        .unionAll(row("n_tokens", sum("ntok")))
        .unionAll(row("n_chars", sum("nch")))
        .unionAll(row("n_sources", countDistinct("source")))
        .unionAll(row("n_langs", countDistinct("lang")))
        .unionAll(row("dup_docs", count(lit(1)) - countDistinct("dig")))
        .unionAll(p50)
        .orderBy("metric")
  }

  /** x207: LSH PARAMETER SWEEP — the tuning table behind every MinHash
    * deployment: the same 8 signature slots arranged as (b=8,r=1),
    * (b=4,r=2), (b=2,r=4) band schemes, each scheme's candidate volume,
    * and its precision/recall against exact Jaccard ≥ ½ ground truth —
    * computed once over the UNION of all schemes' candidates (never
    * all-pairs; at 100 TB a sweep runs on a sample, and the pair space is
    * still Σbucket² per scheme). The threshold test is the INTEGER
    * inequality 3·|∩| ≥ n₁+n₂ (⇔ J ≥ ½) — no float ratio to drift. More
    * bands × shorter signatures = more candidates, higher recall, lower
    * precision; the sweep makes the tradeoff a table instead of folklore.
    * Buckets larger than 64 are EXCLUDED from pairing and counted in
    * `n_overflow_buckets` instead — a degenerate bucket (r=1 single-hash
    * collisions grow linearly with the corpus) would make the pair space
    * quadratic, and its members tell the tuner "this scheme is too
    * permissive" just as loudly as a count; with the cap the sweep's pair
    * space is Σ min(n,64)² — linear at 100 TB (measured: the uncapped r=1
    * arm went 16×/decade, the capped sweep rides the scan). */
  val x207 = DQ("x207_lsh_sweep", Some(
    s"""WITH $wordShinglesCte,
       |seeds AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) s(s)),
       |mh AS (
       |  SELECT doc_id, s, min(md5(g || ':' || CAST(s AS VARCHAR))) AS mh
       |  FROM sh CROSS JOIN seeds GROUP BY doc_id, s),
       |bands AS (
       |  SELECT doc_id, 8 AS cfg_b, s AS band, mh AS sig FROM mh
       |  UNION ALL
       |  SELECT doc_id, 4, s % 4, string_agg(mh, '' ORDER BY s)
       |  FROM mh GROUP BY doc_id, s % 4
       |  UNION ALL
       |  SELECT doc_id, 2, s % 2, string_agg(mh, '' ORDER BY s)
       |  FROM mh GROUP BY doc_id, s % 2),
       |bsz AS (SELECT cfg_b, band, sig, count(*) AS bn
       |  FROM bands GROUP BY 1, 2, 3),
       |kept AS (
       |  SELECT b.doc_id, b.cfg_b, b.band, b.sig
       |  FROM bands b JOIN bsz z ON b.cfg_b = z.cfg_b AND b.band = z.band
       |    AND b.sig = z.sig
       |  WHERE z.bn <= 64),
       |over AS (SELECT cfg_b, CAST(count(*) AS BIGINT) AS n_over
       |  FROM bsz WHERE bn > 64 GROUP BY 1),
       |cand AS (
       |  SELECT DISTINCT a.cfg_b, a.doc_id AS id1, b.doc_id AS id2
       |  FROM kept a JOIN kept b ON a.cfg_b = b.cfg_b AND a.band = b.band
       |    AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |ap AS (SELECT DISTINCT id1, id2 FROM cand),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.id1, p.id2, count(*) AS ninter
       |  FROM ap p JOIN sh a ON a.doc_id = p.id1
       |  JOIN sh b ON b.doc_id = p.id2 AND b.g = a.g
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT i.id1, i.id2 FROM inter i
       |  JOIN cnt c1 ON c1.doc_id = i.id1
       |  JOIN cnt c2 ON c2.doc_id = i.id2
       |  WHERE 3 * i.ninter >= c1.n + c2.n),
       |tn AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT CAST(c.cfg_b AS BIGINT) AS bands,
       |  CAST(8 // c.cfg_b AS BIGINT) AS rows_per_band,
       |  CAST(count(*) AS BIGINT) AS n_candidates,
       |  CAST(sum(CASE WHEN t.id1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_true,
       |  CAST(sum(CASE WHEN t.id1 IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // count(*) AS BIGINT) AS precision_ppm,
       |  CAST(sum(CASE WHEN t.id1 IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // greatest(max(tn.n_truth), 1) AS BIGINT) AS recall_ppm,
       |  CAST(coalesce(max(o.n_over), 0) AS BIGINT) AS n_overflow_buckets
       |FROM cand c LEFT JOIN truth t ON c.id1 = t.id1 AND c.id2 = t.id2
       |LEFT JOIN over o ON c.cfg_b = o.cfg_b
       |CROSS JOIN tn GROUP BY c.cfg_b ORDER BY bands DESC""".stripMargin)) {
    (spark, dir) =>
      // the sweep's whole point is REUSE: sh feeds the candidate ground
      // truth twice and the per-doc counts once, mh feeds three band
      // schemes, kept self-joins, cand feeds both the pair union and the
      // final scoring join. Each shared frame is cut once instead of
      // re-embedding the tokenize→shingle pipeline in every consumer. A/B
      // (CHANGES.md): cuts 3.75 s, no cut 6.09 s, repartition 11.13 s;
      // leaving out any one cut was slower (3.47 s → 3.56–5.12 s)
      val sh = wordShingles(spark, dir).localCheckpoint()
      val mh = minhashesFrom(sh).localCheckpoint()
      def bandsFor(bCount: Int): DataFrame = {
        val r = 8 / bCount
        mh.select(col("doc_id"), explode(array(
          (0 until bCount).map { band =>
            struct(lit(bCount.toLong).as("cfg_b"), lit(band).as("band"),
              concat((0 until r).map(j => col(s"mh${band + j * bCount}")): _*)
                .as("sig"))
          }: _*)).as("bs"))
          .select(col("doc_id"), col("bs.cfg_b").as("cfg_b"),
            col("bs.band").as("band"), col("bs.sig").as("sig"))
      }
      val bands = bandsFor(8).unionAll(bandsFor(4)).unionAll(bandsFor(2))
        .localCheckpoint()
      val bsz = bands.groupBy("cfg_b", "band", "sig")
        .agg(count(lit(1)).as("bn"))
      val kept = bands.join(bsz.filter(col("bn") <= 64),
        Seq("cfg_b", "band", "sig")).drop("bn").localCheckpoint()
      val over = bsz.filter(col("bn") > 64).groupBy("cfg_b")
        .agg(count(lit(1)).as("n_over"))
      val cand = kept.select(col("cfg_b"), col("doc_id").as("id1"),
          col("band"), col("sig"))
        .join(kept.select(col("cfg_b").as("cb2"), col("doc_id").as("id2"),
          col("band").as("b2"), col("sig").as("s2")),
          col("cfg_b") === col("cb2") && col("band") === col("b2") &&
            col("sig") === col("s2") && col("id1") < col("id2"))
        .select("cfg_b", "id1", "id2").distinct().localCheckpoint()
      val ap = cand.select("id1", "id2").distinct()
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = ap
        .join(sh.select(col("doc_id").as("id1"), col("g")), "id1")
        .join(sh.select(col("doc_id").as("id2"), col("g")), Seq("id2", "g"))
        .groupBy("id1", "id2").agg(count(lit(1)).as("ninter"))
      val truth = inter
        .join(cnt.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
        .join(cnt.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
        .filter(lit(3L) * col("ninter") >= col("n1") + col("n2"))
        .select(col("id1"), col("id2"), lit(true).as("is_true"))
        .localCheckpoint()
      val tn = broadcast(truth.agg(count(lit(1)).as("n_truth")))
      cand.join(truth, Seq("id1", "id2"), "left_outer")
        .crossJoin(tn)
        .groupBy("cfg_b")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"),
          expr("sum(CASE WHEN is_true THEN 1 ELSE 0 END) * 1000000" +
            " div count(1)").as("precision_ppm"),
          expr("sum(CASE WHEN is_true THEN 1 ELSE 0 END) * 1000000" +
            " div greatest(max(n_truth), 1L)").as("recall_ppm"))
        .join(broadcast(over), Seq("cfg_b"), "left_outer")
        .select(col("cfg_b").as("bands"),
          expr("8 div cfg_b").cast("long").as("rows_per_band"),
          col("n_candidates"), col("n_true"), col("precision_ppm"),
          col("recall_ppm"),
          coalesce(col("n_over"), lit(0L)).as("n_overflow_buckets"))
        .orderBy(col("bands").desc)
  }

  /** x199: FILTER-AGREEMENT KAPPA — when two quality filters vote on the
    * same corpus (here the x186 linear logit vs a stopword-density rule),
    * raw percent-agreement flatters them (both mostly admit), so the
    * ensemble diligence number is Cohen's κ: agreement ABOVE CHANCE, per
    * language. All fixed-point: marginals in ppm (so pe never multiplies
    * two corpus-sized counts — na1·nb1 overflows BIGINT at ~5M docs; ppm
    * marginals never do), and the final κ division is sign-split because
    * Spark `div` truncates where DuckDB `//` floors — a negative κ would
    * silently disagree by 1 ulp otherwise. One in-row feature pass + one
    * rollup on |lang| keys. */
  val x199 = DQ("x199_filter_kappa", Some(
    """WITH t AS (SELECT doc_id, lang,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |f AS (SELECT doc_id, lang, len(l) AS w,
      |    (SELECT count(*) FROM unnest(l) AS x(tok)
      |     WHERE x.tok IN ('the','a','is','of','and','to','that','with'))
      |      AS stops,
      |    25 * len(l)
      |      + 8 * ((SELECT 100 * sum(length(x.tok)) // len(l)
      |              FROM unnest(l) AS x(tok)))
      |      + 500 * ((SELECT count(*) FROM unnest(l) AS x(tok)
      |                WHERE x.tok IN ('the','a','is','of','and','to',
      |                                'that','with')))
      |      + (len(list_distinct(l)) * 1000000 // len(l)) // 500
      |      - 9000 AS logit_e3
      |  FROM t),
      |v AS (SELECT lang,
      |    CASE WHEN logit_e3 >= 0 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN stops * 20 >= w THEN 1 ELSE 0 END AS b
      |  FROM f),
      |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(a) AS BIGINT) AS na1, CAST(sum(b) AS BIGINT) AS nb1,
      |    CAST(sum(a * b) AS BIGINT) AS n11,
      |    CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
      |  FROM v GROUP BY 1),
      |k AS (SELECT lang, n, na1, nb1, n11, n00,
      |    (n11 + n00) * 1000000 // n AS po_ppm,
      |    ((na1 * 1000000 // n) * (nb1 * 1000000 // n)
      |     + (1000000 - na1 * 1000000 // n)
      |       * (1000000 - nb1 * 1000000 // n)) // 1000000 AS pe_ppm
      |  FROM g)
      |SELECT lang, n, na1, nb1, n11, n00,
      |  CAST(po_ppm AS BIGINT) AS po_ppm, CAST(pe_ppm AS BIGINT) AS pe_ppm,
      |  CAST(CASE WHEN pe_ppm = 1000000 THEN NULL
      |    WHEN po_ppm >= pe_ppm
      |      THEN (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm)
      |    ELSE -((pe_ppm - po_ppm) * 1000000 // (1000000 - pe_ppm)) END
      |    AS BIGINT) AS kappa_ppm
      |FROM k ORDER BY lang""".stripMargin)) {
    (spark, dir) =>
      val f = qualityLogit(spark, dir)
      val v = f.select(col("lang"),
        when(col("logit_e3") >= 0, 1L).otherwise(0L).as("a"),
        when(col("f_stop") * 20 >= col("f_words"), 1L).otherwise(0L).as("b"))
      v.groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("a").as("na1"), sum("b").as("nb1"),
          sum(col("a") * col("b")).as("n11"),
          sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
        .withColumn("po_ppm", expr("(n11 + n00) * 1000000 div n"))
        .withColumn("pe_ppm", expr(
          """((na1 * 1000000 div n) * (nb1 * 1000000 div n)
            | + (1000000 - na1 * 1000000 div n)
            |   * (1000000 - nb1 * 1000000 div n)) div 1000000""".stripMargin))
        .withColumn("kappa_ppm", expr(
          """CASE WHEN pe_ppm = 1000000 THEN NULL
            |  WHEN po_ppm >= pe_ppm
            |    THEN (po_ppm - pe_ppm) * 1000000 div (1000000 - pe_ppm)
            |  ELSE -((pe_ppm - po_ppm) * 1000000 div (1000000 - pe_ppm))
            |END""".stripMargin))
        .orderBy("lang")
  }

  /** x200: EXACT LENGTH PERCENTILES PER SOURCE — the distribution table a
    * data card publishes (p25/p50/p75/p90 token counts): engine-approx
    * percentile functions disagree across implementations, so the rank is
    * selected EXPLICITLY — sorted index `(n−1)·q/100` under lower-floor
    * semantics, via the two-pass [[graft.batch.Joins.globalRank]] over the
    * composite (source, ntok, doc_id) key (range-partitioned: no
    * per-source funnel, no approx sketch). Per-source bases ride a
    * broadcast; the pivot to columns is a conditional rollup on |source|
    * keys. */
  val x200 = DQ("x200_length_percentiles", Some(
    """WITH t AS (SELECT doc_id, source,
      |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                         x -> x <> '')) AS BIGINT) AS ntok
      |  FROM documents),
      |r AS (SELECT source, ntok,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY ntok, doc_id) - 1 AS rk,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM t)
      |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
      |  CAST(max(CASE WHEN rk = (n - 1) * 25 // 100 THEN ntok END)
      |    AS BIGINT) AS p25,
      |  CAST(max(CASE WHEN rk = (n - 1) * 50 // 100 THEN ntok END)
      |    AS BIGINT) AS p50,
      |  CAST(max(CASE WHEN rk = (n - 1) * 75 // 100 THEN ntok END)
      |    AS BIGINT) AS p75,
      |  CAST(max(CASE WHEN rk = (n - 1) * 90 // 100 THEN ntok END)
      |    AS BIGINT) AS p90
      |FROM r GROUP BY source ORDER BY source""".stripMargin)) {
    (spark, dir) =>
      val t = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("ntok"))
      val ranked = graft.batch.Joins.globalRank(
        t, 32, "source", "ntok", "doc_id")
      val base = ranked.groupBy("source")
        .agg(min("global_rank").as("base"), count(lit(1)).as("n"))
      ranked.join(broadcast(base), "source")
        .withColumn("rk", col("global_rank") - col("base"))
        .groupBy("source")
        .agg(max("n").as("n_docs"),
          max(when(expr("rk = (n - 1) * 25 div 100"), col("ntok"))).as("p25"),
          max(when(expr("rk = (n - 1) * 50 div 100"), col("ntok"))).as("p50"),
          max(when(expr("rk = (n - 1) * 75 div 100"), col("ntok"))).as("p75"),
          max(when(expr("rk = (n - 1) * 90 div 100"), col("ntok"))).as("p90"))
        .orderBy("source")
  }

  /** x224: INCREMENTAL INVERTED INDEX — x112 builds the index one-shot; a
    * daily-batch world maintains it: new arrivals land as per-batch
    * SEGMENTS ([[graft.streaming.InvertedIndex]], the Lucene segment model
    * on parquet — each batch shuffles only its own postings, the stored
    * corpus is never rewritten on arrival) and reads merge segments. This
    * gate drives the EXACT same segment → merge → serving code the
    * streaming maintenance path runs (InvertedIndexStreamSpec proves the
    * stream side), over three deterministic pseudo-batches (doc_id mod 3),
    * and the oracle is x112's — the merged incremental index must equal
    * the one-shot build row-for-row, which pins the merge arithmetic
    * (df/total_tf sums, doc-ordered posting splice across segments). */
  val x224 = DQ("x224_incremental_index", Some(
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                    x -> x <> '')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2)
      |SELECT tok, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
      |       string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
      |FROM tf GROUP BY tok ORDER BY tok""".stripMargin)) {
    (spark, dir) =>
      import graft.streaming.InvertedIndex
      val docs = spread(table(spark, dir, "documents")
        .select(col("doc_id"), col("text")))
      val segments = (0 until 3)
        .map(b => InvertedIndex.segment(docs.where(col("doc_id") % 3 === b)))
        .reduce(_ unionByName _)
      InvertedIndex.serving(InvertedIndex.merge(segments)).orderBy("tok")
  }

  /** x226: BM25 SERVED FROM THE INDEX — x88 scores ad hoc off the token
    * stream; a retrieval service scores off the MATERIALIZED index. This
    * gate rebuilds x224's merged incremental index (segments → merge) and
    * computes the exact x88 ranking — idf from the index's df column, tf
    * from the posting arrays, document length as Σtf over each doc's
    * postings — and must hash-match x88's oracle (the ad-hoc formula):
    * the strongest possible statement that the index is lossless for
    * retrieval. Scale shape: the only corpus-width exchange is the
    * posting explode for doc lengths (O(index), a serving-side
    * precompute); the query-term slice is a filter on the term-keyed
    * index, df/N/avgdl are one tiny broadcast each, and the top-5 window
    * sees only docs containing a query term. The scoring path consumes
    * the ≤ChunkSize chunk rows directly (InvertedIndex.postings /
    * termStats) — a stopword query term explodes many bounded rows in
    * parallel instead of one O(corpus) array in one task. */
  val x226 = DQ("x226_index_bm25", Some(
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                    x -> x <> '')) AS tok
      |  FROM documents),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
      |       WHERE tok IN ('data', 'spark', 'join') GROUP BY 1, 2),
      |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT t.tok AS term, t.doc_id,
      |         ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
      |         (CAST(t.tf AS DOUBLE) * 2.2) /
      |         (t.tf + 1.2 * (0.25 + 0.75 * (l.dl / s.avgdl))) AS score
      |  FROM tf t JOIN df d USING (tok) JOIN dl l USING (doc_id)
      |  CROSS JOIN stats s),
      |r AS (SELECT term, doc_id, score,
      |             row_number() OVER (PARTITION BY term
      |                                ORDER BY score DESC, doc_id) AS rn
      |      FROM scored)
      |SELECT term, doc_id, round(score, 4) AS score FROM r WHERE rn <= 5
      |ORDER BY term, doc_id""".stripMargin)) {
    (spark, dir) =>
      import graft.streaming.InvertedIndex
      val queryTerms = Seq("data", "spark", "join")
      val docs = spread(table(spark, dir, "documents")
        .select(col("doc_id"), col("text")))
      // serve off CHUNK rows via the library path ([[InvertedIndex
      // .bm25From]]): each ≤ChunkSize posting row explodes independently
      // and df comes from the no-array termStats sums — no per-term
      // posting array is ever materialized on the BM25 path
      // materialize the chunk rows once: bm25From consumes them twice
      // (query-term hits + the corpus doc-length precompute) and the
      // segment pipeline (tokenize → tf → chunk) re-ran per consumer.
      // A/B (CHANGES.md): cut 1.26 s, no cut 1.86 s, repartition 1.85 s
      val segments = (0 until 3)
        .map(b => InvertedIndex.segment(docs.where(col("doc_id") % 3 === b)))
        .reduce(_ unionByName _)
        .localCheckpoint()
      InvertedIndex.bm25From(segments, queryTerms, 5)
        .orderBy("term", "doc_id")
  }

  /** x235: BM25 SERVED INDEX-RESIDENT — x226 proves the chunked index is
    * lossless for retrieval; this gate proves the full SERVING posture:
    * the index lands ON DISK over three [[graft.streaming.InvertedIndex
    * .appendBatch]] batches (posting chunks + the incremental doc-stats
    * segment, the round-10 scale fix), is COMPACTED (both segment
    * families fold to batch_id=-1), and `bm25` then scores reading only
    * query-term posting chunks (the `tok IN` filter pushes to the parquet
    * scan) plus the O(#docs) stats segment — never rescanning the posting
    * store for document lengths. Must hash-match the same ad-hoc BM25
    * formula as x88/x226 (different query terms), so the stats segment is
    * proven to carry exactly the lengths the ad-hoc plan derives.
    * IndexServingPlanSpec pins the scan-set claim structurally. */
  val x235 = DQ("x235_index_bm25_served", Some(
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                    x -> x <> '')) AS tok
      |  FROM documents),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
      |       WHERE tok IN ('scan', 'merge', 'key') GROUP BY 1, 2),
      |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT t.tok AS term, t.doc_id,
      |         ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
      |         (CAST(t.tf AS DOUBLE) * 2.2) /
      |         (t.tf + 1.2 * (0.25 + 0.75 * (l.dl / s.avgdl))) AS score
      |  FROM tf t JOIN df d USING (tok) JOIN dl l USING (doc_id)
      |  CROSS JOIN stats s),
      |r AS (SELECT term, doc_id, score,
      |             row_number() OVER (PARTITION BY term
      |                                ORDER BY score DESC, doc_id) AS rn
      |      FROM scored)
      |SELECT term, doc_id, round(score, 4) AS score FROM r WHERE rn <= 5
      |ORDER BY term, doc_id""".stripMargin)) {
    (spark, dir) =>
      import graft.streaming.InvertedIndex
      val docs = spread(table(spark, dir, "documents")
        .select(col("doc_id"), col("text")))
      val indexDir = Scratch.scratch("x235_index")
      // the three batch appends are independent jobs (disjoint batch_id
      // partitions); submit them concurrently so each job's task tail
      // back-fills the others' idle cores (guide §2.6 "overlap
      // independent jobs") — Spark's scheduler runs them FIFO
      (0 until 3).map { b =>
        java.util.concurrent.CompletableFuture.runAsync(() =>
          InvertedIndex.appendBatch(indexDir)(
            docs.where(col("doc_id") % 3 === b), b.toLong))
      }.foreach(_.join())
      InvertedIndex.compact(spark, indexDir)
      InvertedIndex.bm25(spark, indexDir, Seq("scan", "merge", "key"), 5)
        .orderBy("term", "doc_id")
  }

  val all: Seq[DQ] = Seq(x02, x03, x05, x06, x07, x08, x09, x10, x14, x22,
    x23, x26, x27, x28, x30, x31, x32, x36, x37, x38, x39, x40, x41, x42, x43,
    x45, x46, x47, x49, x50, x51, x52, x53, x54, x55, x59, x60, x61, x88, x93,
    x94, x106, x109, x111, x112, x113, x114, x115, x116, x117, x120, x121,
    x128, x130, x131, x150, x165, x166, x172, x173, x174, x175, x177,
    x183, x184, x185, x186, x187, x188, x190, x192, x193, x194, x195,
    x197, x198, x199, x200, x207, x208, x210, x215, x216, x217,
    x218, x219, x221, x224, x226, x235)
}
