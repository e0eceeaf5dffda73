package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.batch.{ChunkRow, ChunkPipeline}
import graft.core.Chunker

/** Streaming source/sink wiring (S1–S4, K1): the reference's standing
  * dataflows as Structured Streaming plans. Kafka endpoints are plain
  * format("kafka") wiring (untestable offline — no broker in this
  * environment); the file-based paths are exercised in tests.
  */
object Pipelines {

  /** Keyed repartition that AQE cannot coalesce away — for the
    * work-heavy, byte-light exchanges of the ranged/extent readers
    * (listings, extent tables, slice plans). AQE's partition coalescing
    * sizes partitions by BYTES; a 5000-path listing is a few hundred KB,
    * so `repartition(col(...))` collapsed to ONE post-shuffle partition
    * and every header pread / extent decode serialized on a single core
    * (measured round 15: the ranged SE-dump read ran 6 single-task
    * stages). An explicit partition count is user-specified partitioning
    * that AQE leaves alone; `defaultParallelism` scales it with the
    * cluster (total executor cores) instead of pinning a local constant
    * — the guide §2.5 "input skew"/§2.2 posture. */
  private[graft] def spreadBy(df: DataFrame, keys: Column*): DataFrame = {
    // Floor at an explicitly set spark.sql.shuffle.partitions: under
    // dynamic allocation defaultParallelism reflects currently-REGISTERED
    // executors — ~2 at application start — which would re-serialize the
    // very header preads this spread exists to parallelize; the
    // shuffle-partitions conf is the operator's configured width and
    // does not shrink with a cold cluster. A session that never sets it
    // reads the supplied "1" here, not Spark's default of 200, so a
    // vanilla session spreads over defaultParallelism alone. The app
    // session sets it to the core count, which locally equals
    // defaultParallelism.
    val sess = df.sparkSession
    val n = math.max(sess.sparkContext.defaultParallelism,
      sess.conf.get("spark.sql.shuffle.partitions", "1").toInt)
    df.repartition(n, keys: _*)
  }

  /** The one directory watch of every file pipeline: the binaryFile
    * source over `dir` and its subdirectories, keeping the file names that
    * `glob` matches, with the source's fixed schema (path,
    * modificationTime, length, content). */
  private def watch(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(dir)

  /** S1/S2/S3 upload side: a directory watched by the binaryFile file source
    * (existing files read first batch, new files per microbatch —
    * `maxFilesPerTrigger` paces; reference debounce becomes the source's
    * file-listing cadence) → chunker → wire `(key, value)` rows. */
  def uploadDirectoryStream(
      spark: SparkSession,
      dir: String,
      chunkSize: Int = Chunker.DefaultChunkSize,
      pathGlobFilter: String = "*"): DataFrame = {
    import spark.implicits._
    val files = watch(spark, dir, pathGlobFilter)
    // The source renders paths as absolute URIs (file:/abs/...); normalize
    // the root the same way so relative dirs and file:// URIs both strip
    // cleanly (a raw prefix-strip of a relative dir silently no-ops and the
    // "relative" path becomes the whole absolute path).
    val root = new java.io.File(
      dir.stripPrefix("file://").stripPrefix("file:")).getAbsolutePath.stripSuffix("/")
    val chunks = files
      .select("path", "modificationTime", "content")
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .flatMap { case (path, mtime, content) =>
        val rel = path.stripPrefix("file:").stripPrefix(root).stripPrefix("/")
        val (subdir, name) = rel.lastIndexOf('/') match {
          case -1 => ("", rel)
          case i => (rel.substring(0, i), rel.substring(i + 1))
        }
        Chunker.chunk(name, subdir, content, chunkSize, Nil,
          Some(mtime.getTime / 1000.0)).map(ChunkRow(_))
      }
    ChunkPipeline.encode(chunks.toDF().as[ChunkRow])
  }

  /** S1 with MODIFIED-file re-emission (the reference watchdog's semantic
    * that Spark's binaryFile source lacks): the custom
    * [[graft.sources.ModifiedFileProvider]] re-emits a file whenever its
    * (mtime, size) fingerprint changes, after a `lagMs` static debounce
    * (`watchdog_lag_time`). Re-chunking a modified file carries the newer
    * mtime, so downstream the generation policy ([[graft.core.Assembly]])
    * supersedes the stale partial exactly as the reference does. */
  def uploadDirectoryStreamModified(
      spark: SparkSession,
      dir: String,
      chunkSize: Int = Chunker.DefaultChunkSize,
      lagMs: Long = 3000L,
      maxFilesPerTrigger: Int = 0,
      maxBytesPerTrigger: Long = 0L): DataFrame = {
    import spark.implicits._
    // admission caps = the reference's bounded upload queue (depth in
    // files, DEFAULT_MAX_UPLOAD_QUEUE_MEGABYTES=500 in bytes); 0 = uncapped
    val reader = spark.readStream
      .format(classOf[graft.sources.ModifiedFileProvider].getName)
      .option("path", dir)
      .option("lagMs", lagMs.toString)
    if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    if (maxBytesPerTrigger > 0)
      reader.option("maxBytesPerTrigger", maxBytesPerTrigger.toString)
    val files = reader.load()
    val root = new java.io.File(
      dir.stripPrefix("file://").stripPrefix("file:")).getAbsolutePath.stripSuffix("/")
    val chunks = files
      .as[(String, Long, Array[Byte])]
      .flatMap { case (path, mtimeMs, content) =>
        val rel = path.stripPrefix(root).stripPrefix("/")
        val (subdir, name) = rel.lastIndexOf('/') match {
          case -1 => ("", rel)
          case i => (rel.substring(0, i), rel.substring(i + 1))
        }
        Chunker.chunk(name, subdir, content, chunkSize, Nil,
          Some(mtimeMs / 1000.0)).map(ChunkRow(_))
      }
    ChunkPipeline.encode(chunks.toDF().as[ChunkRow])
  }

  /** K1: wire rows → Kafka topic (at-least-once; reassembly dedups). */
  def toKafka(wire: DataFrame, servers: String, topic: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    wire.selectExpr("CAST(key AS BINARY) AS key", "value")
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** S4 download side: Kafka topic → `(key STRING, value BINARY)` wire
    * rows, the shape of [[graft.app.AppSession.topic]], so a broker consumer
    * decodes, dead-letters and commits through
    * [[graft.app.AppSession.consume]] like every other. Offset
    * tracking/commit is the checkpoint (exactly-once within Spark). */
  def fromKafka(spark: SparkSession, servers: String, topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .selectExpr("CAST(key AS STRING) AS key", "value")

  /** Streaming exact dedup (north-star dedup over a stream): watermarked
    * drop-duplicates on the given keys — state bounded by the watermark
    * horizon instead of stream length; duplicates from at-least-once
    * delivery collapse before downstream processing. */
  def dedupStream(
      df: DataFrame,
      eventTimeCol: String,
      watermark: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream correlation of file completions with processing acks
    * (the G3/G4 handshake as a watermarked interval join): a completion
    * matches an ack for the same `rel_filepath` arriving within
    * `maxAckDelay` of `done_ts`. Both sides carry watermarks, so join state
    * is bounded by watermark horizon + delay bound — never by stream
    * length; at 100 TB the join shuffles both streams by path once and each
    * side's state store holds only the open correlation window. With
    * `joinType = "left_outer"` the unmatched completions emit null-padded
    * once their watermark closes — the unacknowledged-file monitor (the
    * reference has no analog; its registry just holds 'in_progress'
    * forever, stream_handler_registries.py:19-51). */
  def ackJoinStream(
      completions: DataFrame, // rel_filepath STRING, done_ts TIMESTAMP, ...
      acks: DataFrame, // ack_filepath STRING, ack_ts TIMESTAMP, ...
      completionWatermark: String = "10 minutes",
      ackWatermark: String = "10 minutes",
      maxAckDelay: String = "15 minutes",
      joinType: String = "inner"): DataFrame = {
    val c = completions.withWatermark("done_ts", completionWatermark)
    val a = acks.withWatermark("ack_ts", ackWatermark)
    c.join(a,
      expr(s"""ack_filepath = rel_filepath
              |AND ack_ts >= done_ts
              |AND ack_ts <= done_ts + INTERVAL $maxAckDelay""".stripMargin),
      joinType)
  }

  /** Stream-static enrichment join — the consumer-side dimension lookup
    * (the reference resolves per-message context from its in-memory
    * registries, e.g. stream_handler_registries.py:19-51; here the registry
    * is a batch table joined into the stream). The `broadcast` hint keeps
    * every micro-batch shuffle-free: the dim ships to the stream's tasks,
    * the stream never repartitions — at 100 TB the stream side's
    * partitioning is untouched and only the (small) dim crosses the wire,
    * once per executor per batch. Default `left_outer` keeps unmatched
    * stream rows null-padded instead of silently dropping data.
    *
    * Snapshot semantics: a file-based dim's file listing is captured when
    * the DataFrame is DEFINED, not per trigger — to pick up dim updates,
    * rebuild the frame (e.g. inside `foreachBatch`) or restart the query.
    * Set `broadcastDim = false` for dims too big to broadcast; the join
    * then shuffles both sides on `keys` like any equi-join. */
  def enrichStream(stream: DataFrame, dim: DataFrame, keys: Seq[String],
      joinType: String = "left_outer", broadcastDim: Boolean = true): DataFrame = {
    val d = if (broadcastDim) broadcast(dim) else dim
    stream.join(d, keys, joinType)
  }

  /** The refresh-per-batch variant of [[enrichStream]] for dims that
    * CHANGE while the query runs (the reference's registries mutate
    * continuously): a `foreachBatch` wrapper that re-reads the dim table
    * from `dimPath` at every micro-batch — a fresh file listing each
    * trigger, so upserts land without restarting the query — joins it
    * broadcast, and hands the enriched frame to `out`. Compose with
    * [[IdempotentParquetSink.writeBatch]] as `out` for a replay-safe
    * enriched pipeline end-to-end. Dim re-list cost is per-batch driver
    * metadata work — fine for registry-sized dims; for huge slowly-changing
    * dims prefer [[enrichStream]] + planned restarts. */
  def enrichPerBatch(dimPath: String, keys: Seq[String],
      joinType: String = "left_outer")(out: (DataFrame, Long) => Unit)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    val dim = batch.sparkSession.read.parquet(dimPath)
    out(batch.join(broadcast(dim), keys, joinType), batchId)
  }

  /** Ingest-time media triage: a watched directory of opaque binary files
    * classified by the native container-header expressions
    * ([[graft.functions.ImageHeader]]/[[graft.functions.AudioHeader]]/
    * [[graft.functions.VideoHeader]]) — kind, format, and the typed
    * metadata read straight off the leading bytes, inside whole-stage
    * codegen, per micro-batch. Unrecognized payloads surface as
    * kind='unknown' rather than being dropped (the dead-letter posture:
    * route, don't lose). At 100 TB this is the admission step that
    * partitions a mixed media crawl by modality before any codec runs. */
  def mediaTriageStream(spark: SparkSession, dir: String): DataFrame =
    mediaTriage(watch(spark, dir))

  /** The triage projection itself, over any frame with (`path`, `length`,
    * `content binary`) — shared verbatim by the streaming source above and
    * the batch gate (x148), so the admission logic cannot drift between
    * the two execution modes. */
  def mediaTriage(files: DataFrame): DataFrame = {
    import graft.functions.{AudioHeader, Av1Meta, BmpPixels, GifPixels, H264Meta, HevcMeta, Id3Tags, ImageHeader, JpegPixels, MkvTracks, PcmStats, PngPixels, VideoHeader}
    files
      .withColumn("ih", ImageHeader.imageHeader(col("content")))
      .withColumn("ah", AudioHeader.audioHeader(col("content")))
      .withColumn("vh", VideoHeader.videoHeader(col("content")))
      // Matroska/WebM: the EBML walk surfaces per-track facts; a video
      // track anywhere makes the file video, else audio
      .withColumn("mt", MkvTracks.mkvTracks(col("content")))
      .withColumn("mtv", expr("filter(mt, t -> t.kind = 'video')"))
      // body decode — every image format decodes for real (BMP raw, PNG
      // via JDK Inflater + filter inversion, GIF via our LZW, baseline
      // JPEG via our Huffman+IDCT), PCM sample energy/clipping — null
      // only for genuinely unsupported payloads
      .withColumn("bp", coalesce(
        BmpPixels.bmpPixels(col("content")),
        PngPixels.pngPixels(col("content")),
        GifPixels.gifPixels(col("content")),
        JpegPixels.jpegPixels(col("content"))))
      // PCM energy/clipping directly for RIFF payloads; FLAC payloads
      // decode first (round-9 frame codec) so lossless audio gets REAL
      // sample stats at admission, not just STREAMINFO metadata
      .withColumn("ps", coalesce(
        PcmStats.pcmStats(col("content")),
        PcmStats.pcmStats(
          graft.functions.FlacDecode.flacDecode(col("content")))))
      // codec-config parse: for video the CODED dimensions live in the
      // codec's own parameter sets (H.264/H.265 SPS, AV1 sequence header),
      // not the container header
      .withColumn("hm", H264Meta.h264Meta(col("content")))
      .withColumn("hv", HevcMeta.hevcMeta(col("content")))
      .withColumn("a1", Av1Meta.av1Meta(col("content")))
      // archive/bundle containers by magic (cheap — admission must not
      // pay for a full walk; the dedicated expressions do that later):
      // ZIP local header, WARC version line, gzip member (covers
      // .warc.gz), ustar magic at offset 257, and the 188-byte TS train
      .withColumn("arc", expr(
        """CASE
          |  WHEN substring(content, 1, 4) = X'504B0304' THEN 'zip'
          |  WHEN substring(content, 1, 5) = CAST('WARC/' AS BINARY) THEN 'warc'
          |  WHEN substring(content, 1, 2) = X'1F8B' THEN 'gz'
          |  WHEN substring(content, 258, 5) = CAST('ustar' AS BINARY) THEN 'tar'
          |  WHEN length(content) >= 188 AND length(content) % 188 = 0
          |       AND substring(content, 1, 1) = X'47' THEN 'mpegts'
          |END""".stripMargin))
      .select(col("path"), col("length"),
        when(col("ih").isNotNull, "image")
          .when(col("ah").isNotNull, "audio")
          .when(col("vh").isNotNull, "video")
          .when(col("mt").isNotNull,
            when(size(col("mtv")) > 0, "video").otherwise("audio"))
          .when(col("arc").isNotNull, "archive")
          .otherwise("unknown").as("kind"),
        coalesce(col("ih.format"),
          // audio containers: PCM/G.711 codecs mean a RIFF/WAVE wrapper;
          // flac/mp3 name their own container
          when(col("ah.codec").isin("pcm", "alaw", "ulaw"), "wav")
            .otherwise(col("ah.codec")),
          col("vh.brand"),
          when(col("mt").isNotNull, "mkv"),
          col("arc")).as("format"),
        coalesce(col("ih.width"), col("hm.width"), col("hv.width"),
          col("a1.width"),
          expr("CASE WHEN size(mtv) > 0 THEN mtv[0].width END")).as("width"),
        coalesce(col("ih.height"), col("hm.height"), col("hv.height"),
          col("a1.height"),
          expr("CASE WHEN size(mtv) > 0 THEN mtv[0].height END")).as("height"),
        col("ah.sample_rate").as("sample_rate"),
        coalesce(col("ah.duration_us"), col("vh.duration_us"),
          expr("CASE WHEN mt IS NOT NULL AND size(mt) > 0 " +
            "THEN mt[0].duration_us END")).as("duration_us"),
        col("bp.luma_sum").as("luma_sum"),
        col("ps.peak").as("pcm_peak"), col("ps.n_clip").as("pcm_n_clip"),
        // provenance: ID3 title when an MP3/AAC payload carries a tag
        Id3Tags.id3Tags(col("content")).getField("title").as("title"))
  }

  /** Continuous FLAC voice-activity segmentation over a directory watch:
    * every FLAC dropped into `dir` decodes ([[graft.functions.FlacCodec]],
    * the x223 frame codec) and emits one row per `frameSamples`-sample
    * window with integer-exact (n, peak, Σa²) and the energy-floor
    * verdict — the x225 batch gate's semantics as a standing query, so
    * silence trimming happens at ingest instead of by rescan.
    * Undecodable payloads (bad CRC, truncation, non-FLAC) surface as ONE
    * quarantine row (frame_idx = -1, null stats) — dead-letter posture,
    * never a thrown batch. Per-file in-row work, no state, no shuffle. */
  def flacVadStream(spark: SparkSession, dir: String,
      frameSamples: Int = 160, energyFloor: Long = 5000000L): DataFrame = {
    import graft.functions.{FlacDecode, PcmFrames}
    val files = watch(spark, dir)
    files
      .select(col("path"),
        PcmFrames.pcmFrames(FlacDecode.flacDecode(col("content")),
          lit(frameSamples)).as("fs"))
      .select(col("path"), col("fs"),
        explode(when(col("fs").isNotNull, col("fs"))
          .otherwise(array(struct(
            lit(-1).as("frame_idx"), lit(null).cast("long").as("n"),
            lit(null).cast("int").as("peak"),
            lit(null).cast("long").as("sum_sq"))))).as("f"))
      .select(col("path"), col("f.frame_idx").as("frame_idx"),
        col("f.n").as("n"), col("f.peak").as("peak"),
        col("f.sum_sq").as("sum_sq"),
        when(col("fs").isNotNull,
          col("f.sum_sq") >= col("f.n") * energyFloor).as("active"),
        col("fs").isNotNull.as("ok"))
  }

  /** Image-PII privacy gate over a directory watch: every payload runs
    * through [[privacyScrub]] before anything downstream may see it. */
  def privacyScrubStream(spark: SparkSession, dir: String): DataFrame =
    privacyScrub(watch(spark, dir))

  /** The privacy projection itself, over any frame with (`path`, `length`,
    * `content binary`) — shared verbatim by the streaming watch above and
    * the batch gate (x158) so ingest modes cannot drift. GPS-bearing
    * JPEGs come back with the APP1 rebuilt as an allow-list TIFF
    * (pixels untouched), GPS-free payloads pass through, and payloads
    * the scrubber cannot rewrite safely (GPS-bearing bare TIFF) are
    * QUARANTINED: content null, flag set — absence, never silently
    * retained coordinates. `gps_after` re-parses the emitted bytes as
    * the in-plan audit. */
  def privacyScrub(files: DataFrame): DataFrame = {
    import graft.functions.{ExifScrubGps, ExifTags}
    files
      .withColumn("had_gps", coalesce(
        ExifTags.exifTags(col("content")).getField("has_gps"), lit(false)))
      .withColumn("content", ExifScrubGps.exifScrubGps(col("content")))
      .withColumn("quarantined", col("content").isNull)
      .withColumn("gps_after",
        when(col("quarantined"), lit(null).cast("boolean"))
          .otherwise(coalesce(
            ExifTags.exifTags(col("content")).getField("has_gps"), lit(false))))
      .select(col("path"), col("length"), col("had_gps"), col("quarantined"),
        col("gps_after"), col("content"))
  }

  /** Crawl-archive text ingest over a directory watch: every `.warc` /
    * `.warc.gz` payload is opened by `warc_records`, response payloads
    * are stripped to main text by [[htmlMainText]] — the same chain the
    * batch gates (x160/x164) run, shared verbatim. One row per response:
    * (path, uri, title, text, text_len, link_count). */
  /** Streaming WET ingest — the extracted-text twin of
    * [[warcTextStream]] (x178's batch gate): `conversion` records from
    * watched `.wet`/`.warc` archives surface as already-extracted text,
    * language-identified by the same stopword-argmax markers as the
    * batch query. Non-conversion records (warcinfo preambles) drop at
    * the filter; unparseable archives explode to zero records, not an
    * error. Per-row map only — nothing shuffles. */
  def wetTextStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.WarcRecords
    val files = watch(spark, dir)
    def hits(ws: String) =
      size(expr(s"filter(split(text, ' '), w -> w IN ($ws))"))
    files
      .select(col("path"),
        explode(WarcRecords.warcRecords(col("content"))).as("r"))
      .filter(col("r.rec_type") === "conversion")
      .select(col("path"), col("r.uri").as("uri"),
        col("r.payload").cast("string").as("text"))
      .withColumn("en", hits("'the','and'"))
      .withColumn("de", hits("'der','und','zu'"))
      .withColumn("fr", hits("'le','et','la'"))
      .select(col("path"), col("uri"), col("text"),
        length(col("text")).cast("long").as("n_bytes"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        when(col("en") >= col("de") && col("en") >= col("fr"), "en")
          .when(col("de") >= col("fr"), "de").otherwise("fr").as("lang"))
  }

  def warcTextStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.WarcRecords
    val files = watch(spark, dir)
    htmlMainText(
      files
        .select(col("path"),
          explode(WarcRecords.warcRecords(col("content"))).as("r"))
        .filter(col("r.rec_type") === "response")
        .select(col("path"), col("r.uri").as("uri"),
          col("r.payload").cast("string").as("html")))
  }

  /** Continuous CDX-index build over a directory watch: every archive
    * dropped into `dir` emits its `warc_index` rows (path, uri, date,
    * offset, length, payload_md5) — the streaming twin of the x169
    * batch gate, so a crawl store's capture index stays current as
    * archives land instead of being rebuilt by scans. Unparseable
    * archives surface as a single quarantine row (null uri, offset -1)
    * rather than vanishing — the dead-letter posture of every other
    * ingest arm. */
  def cdxIndexStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.WarcIndex
    val files = watch(spark, dir)
    files
      .select(col("path"), WarcIndex.warcIndex(col("content")).as("idx"))
      .select(col("path"), explode(when(col("idx").isNotNull, col("idx"))
        .otherwise(array(struct(
          lit(null).cast("string").as("rec_type"),
          lit(null).cast("string").as("uri"),
          lit(null).cast("string").as("date"),
          lit(-1L).as("offset"), lit(-1L).as("length"),
          lit(null).cast("string").as("payload_md5"))))).as("r"))
      .select(col("path"), col("r.rec_type").as("rec_type"),
        col("r.uri").as("uri"), col("r.date").as("date"),
        col("r.offset").as("offset"), col("r.length").as("length"),
        col("r.payload_md5").as("payload_md5"))
  }

  /** Continuous PDF text ingest over a directory watch: every PDF dropped
    * into `dir` emits one row per page — `pdf_text`'s content-stream walk
    * ([[graft.functions.Pdfs.pdfText]], the x222 batch gate) run as a
    * standing query, so a document corpus grows as files land instead of
    * being re-scanned. Structurally broken PDFs surface as ONE quarantine
    * row (page = -1, null text, ok = false) — the dead-letter posture of
    * every other ingest arm; they never throw and never vanish. Scale
    * shape: a per-file in-row expression — no state, no shuffle. */
  def pdfTextStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PdfText
    val files = watch(spark, dir)
    files
      .select(col("path"), PdfText.pdfText(col("content")).as("pages"))
      .select(col("path"), col("pages"),
        posexplode(when(col("pages").isNotNull, col("pages"))
          .otherwise(array(lit("")))).as(Seq("p0", "ptext")))
      .select(col("path"),
        when(col("pages").isNotNull, col("p0") + 1)
          .otherwise(lit(-1)).cast("int").as("page"),
        when(col("pages").isNotNull, col("ptext")).as("text"),
        when(col("pages").isNotNull, length(col("ptext")).cast("long"))
          .as("n_chars"),
        col("pages").isNotNull.as("ok"))
  }

  /** Shared projection for ARCHIVE text ingest — one row per archive
    * MEMBER, dispatched by member extension to the existing extractors:
    * `.txt` reads verbatim, `.pdf` through [[graft.functions.Pdfs
    * .pdfText]] (pages joined by newline), `.docx` through the x204
    * unzip→`word/document.xml`→`<w:t>`-runs chain (a DOCX inside an
    * archive is itself a ZIP). The dead-letter posture is PER LAYER: an
    * archive whose container breaks (bad EOCD, failed TAR checksum,
    * corrupt PAX record) emits ONE `unreadable` quarantine row; a member
    * whose CRC fails emits a `corrupt` row with no payload handed
    * downstream; a member whose inner format breaks keeps its row with
    * `ok = false`. Input: (path, content) rows — batch or streaming, so
    * the two ingest modes cannot drift (the htmlMainText pattern).
    * Scale shape: per-row expressions only — no state, no shuffle. */
  def archiveText(files: DataFrame): DataFrame = {
    import graft.functions.{PdfText, TarEntries, ZipEntries}
    files
      .withColumn("zes",
        when(col("path").endsWith(".zip"), ZipEntries.zipEntries(col("content"))))
      .withColumn("szs",
        when(col("path").endsWith(".7z"),
          graft.functions.SevenZipEntries.sevenzEntries(col("content"))))
      // the TAR walker gunzips by magic, so .tar.gz/.tgz ride the same
      // arm; .tar.zst pre-inflates through the zstd member decode
      .withColumn("tes",
        when(col("path").endsWith(".tar") || col("path").endsWith(".tar.gz")
          || col("path").endsWith(".tgz"),
          TarEntries.tarEntries(col("content")))
        .when(col("path").endsWith(".tar.zst"),
          TarEntries.tarEntries(
            graft.functions.ZstdBytes.zstdBytes(col("content"))))
        .when(col("path").endsWith(".tar.xz"),
          TarEntries.tarEntries(
            graft.functions.XzBytes.xzBytes(col("content")))))
      .withColumn("ms", expr(
        """CASE
          |  WHEN path LIKE '%.zip' THEN
          |    transform(zes, e ->
          |      struct(e.name AS name, e.crc_ok AS ok, e.payload AS payload))
          |  WHEN path LIKE '%.7z' THEN
          |    transform(szs, e ->
          |      struct(e.name AS name, e.crc_ok AS ok, e.payload AS payload))
          |  WHEN path LIKE '%.tar' OR path LIKE '%.tar.gz'
          |    OR path LIKE '%.tgz' OR path LIKE '%.tar.zst'
          |    OR path LIKE '%.tar.xz' THEN
          |    transform(filter(tes, e -> e.typeflag = '0'), e ->
          |      struct(e.name AS name, true AS ok, e.payload AS payload))
          |  ELSE array(struct(path AS name, true AS ok, content AS payload))
          |END""".stripMargin))
      .select(col("path"), explode_outer(col("ms")).as("m"))
      .transform(expandNested)
      .transform(memberText)
  }

  /** Bare-document ingest — [[archiveText]] IS the universal front door
    * (its dispatch's ELSE arm turns a loose file into one synthetic
    * member named by its own path), so a `.pdf` dropped next to a `.zip`
    * of PDFs extracts through byte-identical code (DocTextStreamSpec
    * pins bare ≡ in-archive text). Unknown extensions keep their row
    * with kind `other`, `ok = false` — route, don't drop. */
  def docText(files: DataFrame): DataFrame = archiveText(files)

  /** ONE level of archive nesting (`docs.tar` carrying `batch.zip`
    * carrying PDFs — the shape crawl bundles and mail-house exports
    * actually take): a member whose own name is an archive re-explodes,
    * its children named `outer!inner` (the jar-URL convention). An
    * unreadable INNER container keeps one `ok = false` row under the
    * outer name. Exactly one level, deliberately: unbounded recursion
    * is not expressible declaratively, and a self-referential zip bomb
    * must hit a depth floor, not the executor heap. */
  private def expandNested(members: DataFrame): DataFrame = {
    import graft.functions.{GunzipBytes, TarEntries, ZipEntries}
    members
      // single-file gzip/bzip2 (story.txt.gz, dump.xml.bz2 — NOT
      // .tar.gz, which the TAR arm owns): unwrap in place,
      // re-dispatching on the inner name; a broken stream keeps one
      // dead-letter row
      .withColumn("gz",
        when(col("m.ok") && col("m.name").endsWith(".gz")
          && !col("m.name").endsWith(".tar.gz"),
          GunzipBytes.gunzipBytes(col("m.payload"))))
      .withColumn("bz",
        when(col("m.ok") && col("m.name").endsWith(".bz2"),
          graft.functions.BunzipBytes.bunzipBytes(col("m.payload"))))
      .withColumn("zs",
        when(col("m.ok") && col("m.name").endsWith(".zst")
          && !col("m.name").endsWith(".tar.zst"),
          graft.functions.ZstdBytes.zstdBytes(col("m.payload"))))
      .withColumn("xzb",
        when(col("m.ok") && col("m.name").endsWith(".xz")
          && !col("m.name").endsWith(".tar.xz"),
          graft.functions.XzBytes.xzBytes(col("m.payload"))))
      .withColumn("m", expr(
        """CASE WHEN m IS NOT NULL AND m.ok AND m.name LIKE '%.gz'
          |       AND m.name NOT LIKE '%.tar.gz' THEN
          |  struct(substring(m.name, 1, length(m.name) - 3) AS name,
          |         gz IS NOT NULL AS ok, gz AS payload)
          |WHEN m IS NOT NULL AND m.ok AND m.name LIKE '%.bz2' THEN
          |  struct(substring(m.name, 1, length(m.name) - 4) AS name,
          |         bz IS NOT NULL AS ok, bz AS payload)
          |WHEN m IS NOT NULL AND m.ok AND m.name LIKE '%.zst'
          |     AND m.name NOT LIKE '%.tar.zst' THEN
          |  struct(substring(m.name, 1, length(m.name) - 4) AS name,
          |         zs IS NOT NULL AS ok, zs AS payload)
          |WHEN m IS NOT NULL AND m.ok AND m.name LIKE '%.xz'
          |     AND m.name NOT LIKE '%.tar.xz' THEN
          |  struct(substring(m.name, 1, length(m.name) - 3) AS name,
          |         xzb IS NOT NULL AS ok, xzb AS payload)
          |ELSE m END""".stripMargin))
      .withColumn("nzes",
        when(col("m.ok") && col("m.name").endsWith(".zip"),
          ZipEntries.zipEntries(col("m.payload"))))
      .withColumn("ntes",
        when(col("m.ok") && (col("m.name").endsWith(".tar")
          || col("m.name").endsWith(".tar.gz")
          || col("m.name").endsWith(".tgz")),
          TarEntries.tarEntries(col("m.payload")))
        .when(col("m.ok") && col("m.name").endsWith(".tar.zst"),
          TarEntries.tarEntries(
            graft.functions.ZstdBytes.zstdBytes(col("m.payload"))))
        .when(col("m.ok") && col("m.name").endsWith(".tar.xz"),
          TarEntries.tarEntries(
            graft.functions.XzBytes.xzBytes(col("m.payload")))))
      .withColumn("ms2", expr(
        """CASE
          |  WHEN m IS NOT NULL AND m.ok AND m.name LIKE '%.zip' THEN
          |    CASE WHEN nzes IS NULL THEN
          |      array(struct(m.name AS name, false AS ok,
          |                   CAST(NULL AS BINARY) AS payload))
          |    ELSE transform(nzes, e -> struct(
          |      concat(m.name, '!', e.name) AS name,
          |      e.crc_ok AS ok, e.payload AS payload)) END
          |  WHEN m IS NOT NULL AND m.ok AND (m.name LIKE '%.tar'
          |    OR m.name LIKE '%.tar.gz' OR m.name LIKE '%.tgz'
          |    OR m.name LIKE '%.tar.zst' OR m.name LIKE '%.tar.xz') THEN
          |    CASE WHEN ntes IS NULL THEN
          |      array(struct(m.name AS name, false AS ok,
          |                   CAST(NULL AS BINARY) AS payload))
          |    ELSE transform(filter(ntes, e -> e.typeflag = '0'),
          |      e -> struct(concat(m.name, '!', e.name) AS name,
          |                  true AS ok, e.payload AS payload)) END
          |  ELSE array(m)
          |END""".stripMargin))
      .select(col("path"), explode_outer(col("ms2")).as("m"))
  }

  /** Continuous bare-document ingest over a directory watch — the
    * streaming twin of [[docText]], completing the ingest matrix: any
    * mix of .txt/.pdf/.docx/.xlsx/.pptx/.odt/.epub/.rtf/.eml files
    * dropped into `dir` lands as text rows through the one shared
    * projection. */
  def docTextStream(spark: SparkSession, dir: String): DataFrame =
    docText(watch(spark, dir))

  /** Wikipedia-dump ingest (the x249/x250 projection as a reusable
    * surface): (path, content) rows of `.xml.bz2` dumps → one row per
    * `<page>` (title, text), SPLIT AT BZIP2 STREAM BOUNDARIES first
    * (`bz2_extents`) so a multistream dump — the form Wikipedia
    * publishes `pages-articles` in precisely to make this possible —
    * decodes N streams in N tasks, with no column ever holding more
    * than one stream's output (the 2 GB column limit and the decoder's
    * 256 MiB inflate bound both apply per STREAM, not per file).
    * Dump order is `ORDER BY (path, stream, page)`; `page` numbers
    * within its stream (for a single-stream file that IS the global
    * page number).
    *
    * Row contract (route, don't drop — every extent is visible):
    *  - a page row: (stream ≥ 1, page ≥ 1, title, text, ok = true);
    *  - a decoded extent with NO pages (the multistream header /
    *    footer streams): one (stream, page = 0, nulls, ok = true) row;
    *  - a torn extent (CRC/structural break, over-bound inflate, or a
    *    page FRAGMENT spanning the boundary — nonconforming input;
    *    `<page>`/`</page>` counts disagree): one (stream, page = -1,
    *    nulls, ok = false) row — never partial pages;
    *  - a file that is not bzip2 at all: one (stream = -1, page = -1,
    *    nulls, ok = false) row.
    * Batch or streaming input, so the two modes cannot drift; the one
    * shuffle is the deliberate extent spread.
    *
    * ENTITY CONTRACT: `title` and `text` are the dump's WIRE form —
    * XML entities (`&amp;` `&lt;` `&gt;` …) intact, exactly as real
    * MediaWiki dumps carry them. The decoded views are
    * [[wikidumpPlain]] / [[wikidumpArticles]] (via `wikitext_plain`)
    * and [[wikidumpFetch]] (single-page serving); a consumer of THIS
    * raw view must unescape itself and must not double-decode after
    * those views. [[wikidumpSink]] escapes symmetrically on write. */
  def wikidumpPages(files: DataFrame): DataFrame =
    wikidumpExtract(wikidumpSlices(files))

  /** Stage 1 of [[wikidumpPages]]: stream-extent scan + slice. Emits
    * (path, stream, payload) with payload = ONE stream's compressed
    * bytes, then repartitions on (path, stream) so the per-extent
    * decode spreads across the cluster instead of serializing inside
    * the file's scan task — the slice happens MAP-SIDE, so the shuffle
    * carries each compressed stream exactly once and the whole-file
    * column never crosses the wire. */
  private[graft] def wikidumpSlices(files: DataFrame): DataFrame = {
    files
      .withColumn("exts",
        graft.functions.Bzip2Extents.bz2Extents(col("content")))
      .select(col("path"), col("content"),
        posexplode_outer(col("exts")).as(Seq("s0", "ext")))
      .select(col("path"),
        when(col("ext").isNotNull, col("s0") + 1)
          .otherwise(lit(-1)).cast("int").as("stream"),
        when(col("ext").isNotNull,
          expr("substring(content, cast(ext.off as int) + 1, " +
            "cast(ext.len as int))")).as("payload"))
      .transform(spreadBy(_, col("path"), col("stream")))
  }

  /** Stage 2 of [[wikidumpPages]]: per-extent decode + page walk —
    * ALSO the tail of the ranged (no-whole-file-column) reader, so the
    * two paths cannot diverge on extraction semantics. */
  private[graft] def wikidumpExtract(slices: DataFrame): DataFrame = {
    slices
      .withColumn("xml",
        graft.functions.BunzipBytes.bunzipBytes(col("payload"))
          .cast("string"))
      .withColumn("ps",
        expr("regexp_extract_all(xml, '(?s)<page>(.*?)</page>', 1)"))
      // a dangling <page> (or stray </page>) means a page fragment
      // spans this extent's boundary: quarantine the EXTENT — partial
      // pages must never flow downstream
      .withColumn("torn",
        size(expr("regexp_extract_all(xml, '<page>', 0)")) =!=
          size(expr("regexp_extract_all(xml, '</page>', 0)")))
      .withColumn("ok", col("xml").isNotNull && !col("torn"))
      .withColumn("npages", size(col("ps")))
      .select(col("path"), col("stream"), col("ok"), col("npages"),
        posexplode(when(col("ok") && col("npages") > 0, col("ps"))
          .otherwise(array(lit("")))).as(Seq("p0", "p")))
      .select(col("path"), col("stream"),
        when(!col("ok"), lit(-1))
          .when(col("npages") === 0, lit(0))
          .otherwise(col("p0") + 1).cast("int").as("page"),
        when(col("ok") && col("npages") > 0,
          expr("regexp_extract(p, '<title>([^<]*)</title>', 1)"))
          .as("title"),
        // the MediaWiki export namespace (0 = articles) and redirect
        // target — what a corpus stage filters on; null on marker and
        // quarantine rows, and ns null when the page carries no <ns>
        when(col("ok") && col("npages") > 0,
          expr("CASE WHEN p RLIKE '<ns>-?[0-9]+</ns>' THEN " +
            "cast(regexp_extract(p, '<ns>(-?[0-9]+)</ns>', 1) as int) END"))
          .as("ns"),
        when(col("ok") && col("npages") > 0,
          expr("CASE WHEN p RLIKE '<redirect ' THEN " +
            "regexp_extract(p, '<redirect title=\"([^\"]*)\"', 1) END"))
          .as("redirect"),
        when(col("ok") && col("npages") > 0,
          expr("regexp_extract(p, '(?s)<text[^>]*>(.*?)</text>', 1)"))
          .as("text"),
        col("ok"))
  }

  /** The CORPUS view of a dump: ns-0, non-redirect pages only, with
    * the markup already stripped — what a training-data stage actually
    * wants from `pages-articles`. Marker and quarantine rows do NOT
    * appear here (they stay visible in [[wikidumpPages]], where
    * accounting belongs); Talk:/File:/Category: namespaces and
    * `#REDIRECT` stubs are dropped by the published semantics (ns
    * element ≠ 0, `<redirect/>` element present). */
  def wikidumpArticles(files: DataFrame): DataFrame =
    wikidumpPlain(files)
      .where(col("ok") && col("page") > 0 &&
        col("ns") === 0 && col("redirect").isNull)

  /** The NO-COLUMN dump reader for files past the 2 GB binary-column
    * limit (a real enwiki `pages-articles-multistream.xml.bz2` is
    * ~20 GB compressed — `binaryFile` cannot even load it): input is
    * just a LISTING (a `path` string column), extents come from a
    * streaming executor-side scan over Hadoop FS (fixed 64 KiB buffer,
    * O(1) memory — [[graft.sources.RangedBz2.scanExtents]]), and each
    * extent's bytes are range-read only AFTER the (path, stream)
    * repartition spreads them — so the heaviest value ever held is one
    * compressed stream, on exactly one executor. The extraction tail
    * is [[wikidumpExtract]], shared verbatim with the column path, so
    * the two readers cannot drift (WikidumpRangedSpec pins parity
    * file-for-file). A monolithic single-stream file larger than
    * `maxExtentBytes` caps to a quarantine row instead of allocating
    * the monolith — the documented monolith posture. */
  def wikidumpPagesRanged(paths: DataFrame,
      maxExtentBytes: Long =
        graft.sources.RangedBz2.DefaultMaxExtentBytes): DataFrame = {
    val spark = paths.sparkSession
    import spark.implicits._
    import graft.sources.RangedBz2
    val bc = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val extents = spreadBy(paths.select(col("path")), col("path"))
      .as[String]
      .mapPartitions { it =>
        it.flatMap { p =>
          RangedBz2.scanExtents(bc.value.value, p).iterator
            .map { case (s, off, len) => (p, s, off, len) }
        }
      }.toDF("path", "stream", "off", "len")
    val slices = spreadBy(extents, col("path"), col("stream"))
      .as[(String, Int, Long, Long)]
      .map { case (p, s, off, len) =>
        (p, s, RangedBz2.readRange(bc.value.value, p, off, len, maxExtentBytes))
      }
      .toDF("path", "stream", "payload")
    wikidumpExtract(slices)
  }

  /** [[wikidumpPages]] + the corpus stage's text: `plain` is the page
    * body with MediaWiki markup resolved (templates/tables/refs
    * dropped, links → labels — [[graft.functions.Wikitext.plain]]),
    * computed per page row so it rides the same extent parallelism.
    * Marker and quarantine rows keep a null `plain`. */
  def wikidumpPlain(files: DataFrame): DataFrame =
    wikidumpPages(files).withColumn("plain",
      graft.functions.WikitextPlain.wikitextPlain(col("text")))

  /** Streaming twin of [[wikidumpPlain]] — same projection verbatim. */
  def wikidumpPlainStream(spark: SparkSession, dir: String): DataFrame =
    wikidumpPlain(watch(spark, dir))

  /** The published multistream INDEX parse
    * (`…-multistream-index.txt.bz2`: one `offset:pageid:title` line per
    * page, offset = byte start of the bzip2 stream holding it) →
    * (path, off, page_id, title) rows. Titles may contain ':', so the
    * split is limit-3. The index file is ~1% of its dump — whole-decode
    * per row is the right shape here; the DUMP never decodes whole. */
  def wikidumpIndexLines(files: DataFrame): DataFrame = {
    files
      .withColumn("txt",
        graft.functions.BunzipBytes.bunzipBytes(col("content"))
          .cast("string"))
      .select(col("path"),
        explode(expr("filter(split(txt, '\n'), l -> l != '')")).as("line"))
      .select(col("path"),
        split(col("line"), ":", 3).getItem(0).cast("long").as("off"),
        split(col("line"), ":", 3).getItem(1).cast("long").as("page_id"),
        split(col("line"), ":", 3).getItem(2).as("title"))
  }

  /** RANDOM-ACCESS page fetch — the whole reason Wikipedia publishes
    * the multistream form + index: serve single pages out of a 20 GB
    * dump by reading ONE stream each, never scanning the dump.
    *
    * `idx`: (path, off, page_id, title) rows (the DUMP's path — see
    * [[wikidumpIndexLines]]); `wanted`: (page_id) rows. Only the
    * streams that hold wanted pages are range-read (file lengths are
    * resolved executor-side for HIT paths only — WikidumpFetchSpec
    * proves untouched dump files can be absent entirely), each wanted
    * extent decodes on its own task after the (path, off) spread, and
    * a wanted page whose stream is torn — or which the index promised
    * but the stream doesn't hold — comes back as one (ok = false) row:
    * route, don't drop. All joins against the wanted/extent sides are
    * O(hits); the per-path `lead` window runs over O(#streams) 16-byte
    * rows, not data.
    *
    * Unlike the raw [[wikidumpPages]] view, this is a SERVING path:
    * `title`/`text` come back entity-DECODED (the inverse of what
    * [[wikidumpSink]] and real MediaWiki dumps escape on write), so a
    * fetched page is the original text byte-for-byte. */
  def wikidumpFetch(idx: DataFrame, wanted: DataFrame,
      maxExtentBytes: Long =
        graft.sources.RangedBz2.DefaultMaxExtentBytes): DataFrame = {
    val spark = idx.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.sources.RangedBz2
    val bc = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))

    // NOT cached: the returned DataFrame is lazy, so there is no safe
    // unpersist point (the x39 rule in SCALE.md) — hits is a cheap
    // index∩wanted join and recomputing it beats leaking a cached
    // frame per fetch call
    val hits = idx.join(wanted.select("page_id").distinct(), "page_id")
      .select(col("path"), col("off"), col("page_id"))
    val hitPaths = hits.select("path").distinct()
    val fileLens = hitPaths.as[String]
      .mapPartitions { it =>
        it.map { p =>
          val len =
            try {
              val hp = new org.apache.hadoop.fs.Path(p)
              hp.getFileSystem(bc.value.value).getFileStatus(hp).getLen
            } catch { case _: java.io.IOException => -1L }
          (p, len)
        }
      }.toDF("path", "file_len")
    val w = Window.partitionBy("path").orderBy("off")
    val extents = idx.join(hitPaths, "path")
      .select(col("path"), col("off")).distinct()
      .withColumn("next", lead(col("off"), 1).over(w))
      .join(fileLens, "path")
      .withColumn("len", coalesce(col("next"), col("file_len")) - col("off"))

    val pages = spreadBy(
        hits.select("path", "off").distinct()
          .join(extents, Seq("path", "off")),
        col("path"), col("off"))
      .select(col("path"), col("off"), col("len"))
      .as[(String, Long, Long)]
      .map { case (p, off, len) =>
        (p, off,
          RangedBz2.readRange(bc.value.value, p, off, len, maxExtentBytes))
      }
      .toDF("path", "off", "payload")
      .withColumn("xml",
        graft.functions.BunzipBytes.bunzipBytes(col("payload"))
          .cast("string"))
      .select(col("path"), col("off"),
        explode(expr(
          "coalesce(regexp_extract_all(xml, '(?s)<page>(.*?)</page>', 1), " +
            "cast(array() as array<string>))")).as("p"))
      .select(col("path"), col("off"),
        expr("regexp_extract(p, '<id>(\\\\d+)</id>', 1)")
          .cast("long").as("page_id"),
        expr("regexp_extract(p, '<title>([^<]*)</title>', 1)").as("title"),
        expr("regexp_extract(p, '(?s)<text[^>]*>(.*?)</text>', 1)")
          .as("text"))

    hits
      .join(pages, Seq("path", "off", "page_id"), "left")
      .select(col("path"), col("page_id"),
        xmlUnescapeCol(col("title")).as("title"),
        xmlUnescapeCol(col("text")).as("text"),
        col("text").isNotNull.as("ok"))
  }

  /** Column-side inverse of [[graft.functions.Wikitext.xmlEscape]]
    * (the dump wire form → served text): `&amp;` decoded LAST so
    * `&amp;lt;` comes back as the literal text `&lt;`, not `<`. */
  private def xmlUnescapeCol(c: Column): Column =
    replace(replace(replace(replace(replace(c,
      lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
      lit("&quot;"), lit("\"")), lit("&#39;"), lit("'")),
      lit("&amp;"), lit("&"))

  /** Streaming twin of [[wikidumpArticles]] — the corpus view over a
    * directory watch, same projection verbatim. */
  def wikidumpArticlesStream(spark: SparkSession, dir: String): DataFrame =
    wikidumpArticles(watch(spark, dir))

  /** The INVERSE path: write a curated corpus back out as the
    * randomly-accessible artifact the ecosystem already knows how to
    * serve — multistream `.xml.bz2` dumps plus their published-format
    * `offset:pageid:title` index files. Each PARTITION becomes one
    * dump (`part-<pid>.xml.bz2` + `part-<pid>-index.txt.bz2`), pages
    * grouped `pagesPerStream` to a bzip2 stream (the 100-page
    * convention, parameterized), header/footer streams framing them —
    * so [[wikidumpFetch]] serves single pages out of what this wrote
    * (the x261 gate closes that circle). Executor-side Hadoop FS
    * writes, no driver funnel; one file per partition, sized by the
    * caller's partitioning.
    *
    * Wire hygiene (what real MediaWiki dumps do): title and text are
    * entity-ESCAPED into the page XML (`& < > "`), so a corpus body
    * carrying a literal `</text>` or `<page>` cannot truncate or
    * corrupt the dump on re-read — [[wikidumpFetch]] decodes the
    * entities back, closing the hostile-text round trip byte-exactly.
    * Index lines carry the title in PLAIN form (the published index is
    * a text file, not XML) with newlines flattened to spaces — a title
    * with an embedded newline would otherwise tear its index line in
    * two. Memory posture: each stream group is built, compressed and
    * written to the FS stream in turn, and the index text flushes as
    * its own bzip2 stream every ~1 MiB (a multistream `.txt.bz2` is
    * legal bzip2; [[wikidumpIndexLines]]' whole-member decode already
    * reads concatenated streams) — the heap high-water is one stream
    * group plus one index chunk, NEVER a function of partition size. */
  def wikidumpSink(pages: DataFrame, dir: String,
      pagesPerStream: Int = 100): Unit = {
    val spark = pages.sparkSession
    import spark.implicits._
    import graft.functions.{Bzip2, Wikitext}
    val bc = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    pages.select(col("page_id").cast("long"), col("title"), col("text"))
      .as[(Long, String, String)]
      .foreachPartition { (it: Iterator[(Long, String, String)]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val conf = bc.value.value
          val dumpPath = new org.apache.hadoop.fs.Path(
            dir, f"part-$pid%05d.xml.bz2")
          val fs = dumpPath.getFileSystem(conf)
          val os = fs.create(dumpPath, true)
          val ip = new org.apache.hadoop.fs.Path(
            dir, f"part-$pid%05d-index.txt.bz2")
          // the dump stream must not leak if the index create throws —
          // it is already open when this second create runs
          val ios =
            try ip.getFileSystem(conf).create(ip, true)
            catch { case t: Throwable => os.close(); throw t }
          val idx = new StringBuilder
          var idxBytes = 0L // UTF-8 bytes, not chars — the bound is literal
          var pos = 0L
          def emit(bytes: Array[Byte]): Unit = {
            os.write(bytes)
            pos += bytes.length
          }
          def flushIdx(force: Boolean): Unit =
            if (idx.nonEmpty && (force || idxBytes >= (1 << 20))) {
              ios.write(Bzip2.encode(idx.toString.getBytes("UTF-8")))
              idx.clear()
              idxBytes = 0L
            }
          try {
            emit(Bzip2.encode(
              "<mediawiki><siteinfo><sitename>graft</sitename></siteinfo>"
                .getBytes("UTF-8")))
            it.grouped(pagesPerStream).foreach { g =>
              val off = pos
              val xml = g.map { case (id, t, b) =>
                val te = Wikitext.xmlEscape(
                  t.replaceAll("[\r\n]+", " "))
                s"<page><title>$te</title><ns>0</ns><id>$id</id>" +
                  s"<revision><id>1</id><text bytes=\"0\">" +
                  Wikitext.xmlEscape(b) + "</text></revision></page>"
              }.mkString
              emit(Bzip2.encode(xml.getBytes("UTF-8")))
              g.foreach { case (id, t, _) =>
                val line = s"$off:$id:${t.replaceAll("[\r\n]+", " ")}\n"
                idx.append(line)
                idxBytes += line.getBytes("UTF-8").length
              }
              flushIdx(force = false)
            }
            emit(Bzip2.encode("</mediawiki>".getBytes("UTF-8")))
            flushIdx(force = true)
          } finally {
            try os.close() finally ios.close()
          }
        }
      }
  }

  /** The self-closing `<row …/>` matcher [[sedumpPosts]] and
    * [[sedumpTable]] share, QUOTE-AWARE: a raw `>` inside a quoted
    * attribute value is legal XML (writers must escape `<` and `&`
    * there, not `>` — and .NET's XmlWriter, which produces the real
    * archive.org dumps, leaves it unescaped), so the value alternates
    * `[^"'>]` with whole quoted spans rather than stopping at the first
    * `>`. Raw newlines inside values are fine too (character classes,
    * not dot). BOTH quote styles count: XML permits `Id='1'`, and a
    * `'`-quoted span shields `>` exactly like a `"`-quoted one (the
    * byte scanner `Ranged7z.RowScanner` mirrors this). SQL-string-
    * escaped form, for `expr(...)`. */
  private val RowRe = "<row\\\\s(?:[^\"\\'>]|\"[^\"]*\"|\\'[^\\']*\\')*/>"

  /** Generic attribute-table reader for SE-style dumps — the
    * [[sedumpPosts]] machinery for ANY of the dump's tables
    * (`Users.xml`, `Comments.xml`, `Votes.xml`, …): every self-closing
    * `<row …/>` of the named member becomes one row with the requested
    * attributes as STRING columns (entity-decoded; null when the
    * attribute is absent from the row), plus `ok`. Quarantine mirrors
    * [[sedumpPosts]]: broken containers and dead members surface as
    * one all-null (ok = false) row; healthy members under other names
    * emit nothing. Per-row work only — at 100 TB each table is its
    * own archive file and this is a map-only scan over it. */
  def sedumpTable(archives: DataFrame, member: String,
      attrs: Seq[String]): DataFrame = {
    import graft.functions.SevenZipEntries
    val base = archives
      .withColumn("es", SevenZipEntries.sevenzEntries(col("content")))
      .select(col("path"), explode_outer(col("es")).as("e"))
      .withColumn("mok",
        col("e").isNotNull && coalesce(col("e.crc_ok"), lit(false)))
      .where(col("e").isNull || !col("mok") || col("e.name") === member)
      .withColumn("xml", when(col("mok"), col("e.payload").cast("string")))
      .withColumn("rows0", when(col("mok"),
        expr(s"regexp_extract_all(xml, '$RowRe', 0)")))
      // route, don't drop: a `<row` opening the quote-aware matcher
      // could not close (torn tag, unterminated quote) quarantines the
      // MEMBER — a silent subset is worse than a null row
      .withColumn("rows", when(
        size(expr("regexp_extract_all(xml, '<row\\\\s', 0)")) ===
          size(col("rows0")), col("rows0")))
      .select(col("path"), explode_outer(col("rows")).as("r"))
    sedumpAttrColumns(base, attrs)
  }

  /** The attribute projection [[sedumpTable]] and [[sedumpTableRanged]]
    * share verbatim, over (path, r) rows — the two ingest modes cannot
    * drift. */
  private def sedumpAttrColumns(base: DataFrame,
      attrs: Seq[String], extra: Seq[String] = Nil): DataFrame =
    attrs.foldLeft(base) { (df, a) =>
      df.withColumn(a, xmlUnescapeCol(rowAttr(a)))
    }.select(
      ((col("path") +: attrs.map(col)) :+ col("r").isNotNull.as("ok")) ++
        extra.map(col): _*)

  /** One attribute's raw (entity-encoded) value out of a `<row …/>`
    * string in column `r` — whitespace-anchored (attrs are
    * space-delimited inside a row tag: Id= must bind neither inside
    * ParentId= nor data-Id=), BOTH quote styles accepted (XML permits
    * `Id='1'`; the double-quote arm wins when both could bind, which
    * also keeps an `A='…'` lookalike inside a `"`-quoted value from
    * shadowing a real `A="…"`), null when ABSENT — `rlike`
    * distinguishes absent from empty (""). */
  private def rowAttr(a: String): Column =
    when(col("r").rlike("(?:^|\\s)" + a + "=\""),
      regexp_extract(col("r"), "(?:^|\\s)" + a + "=\"([^\"]*)\"", 1))
      .when(col("r").rlike("(?:^|\\s)" + a + "='"),
        regexp_extract(col("r"), "(?:^|\\s)" + a + "='([^']*)'", 1))

  /** The RANGED row reader under both ranged SE-dump views — the 7z
    * twin of [[wikidumpPagesRanged]], for the one famous artifact the
    * bounded column reader cannot serve (a stackoverflow.com
    * `Posts.xml` is tens of GB inside its `.7z`): input is just a
    * LISTING (a `path` string column); member layout comes from a
    * header-only pread ([[graft.sources.Ranged7z.scanMembers]] — start
    * header + next header, never a payload byte); big LZMA2 members
    * get a no-decode chunk-header walk whose dict+props resets become
    * independent decode slices; and each slice streams its rows
    * through an O(dict-window) ring decode that holds one row at a
    * time ([[graft.sources.Ranged7z.rows]]). The (path, slice)
    * repartition spreads decode work BEFORE any byte is read, so the
    * heaviest thing ever held is one ring window on one executor.
    *
    * Contract vs the bounded path: same row matcher semantics
    * ([[RowRe]], byte-level), same projections downstream — but
    * damage LOCALIZES (per-slice dead-letter rows alongside the rows
    * already streamed) instead of quarantining the whole member, and a
    * SPLIT decode trades the folder-global CRC for parallelism
    * (LZMA2 carries no per-chunk checksum; a single-slice pass still
    * verifies it incrementally). Scaladoc on
    * [[graft.sources.Ranged7z]] carries the full routing table. */
  private[graft] def sedumpRowsRanged(paths: DataFrame, memberRe: String,
      lzma2SplitMin: Long = 64L << 20,
      copyTile: Long = 256L << 20): DataFrame = {
    val spark = paths.sparkSession
    import spark.implicits._
    import graft.sources.Ranged7z
    val bc = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    // spread the LISTING before the header scans: a listing often
    // arrives as one split (one parquet row-group, one text file), and
    // without this every header pread would run in a single task
    val slices = spreadBy(paths.select(col("path")), col("path"))
      .as[String]
      .mapPartitions { it =>
        it.flatMap { p =>
          val ms = Ranged7z.scanMembers(bc.value.value, p)
          if (ms == null) Iterator(Ranged7z.deadSlice(p, null))
          else {
            // a matching-member dump with zero matches emits nothing,
            // like the bounded path's non-XML members
            ms.iterator.filter(m => memberRe.r.findFirstIn(m.name).isDefined)
              .flatMap(m =>
                Ranged7z.planSlices(bc.value.value, p, m, lzma2SplitMin,
                  copyTile))
          }
        }
      }
    slices
      // explicit-count keyed spread — same AQE-coalescing rationale as
      // [[spreadBy]] (a slice table is bytes-tiny, decode-heavy)
      .repartition(spark.sparkContext.defaultParallelism,
        col("path"), col("member"), col("sliceUnpack"))
      .flatMap { s =>
        // crc_checked surfaces the split-decode trade per ROW: a
        // single-slice whole-folder pass verified the folder CRC
        // (slice.checkCrc), a split or partial decode could not —
        // consumers can tell verified from CRC-skipped output
        Ranged7z.rows(bc.value.value, s).map { case (r, _) =>
          (s.path, s.member, r, s.checkCrc)
        }
      }
      .toDF("path", "member", "r", "crc_checked")
  }

  /** Ranged twin of [[sedumpTable]]: same attribute projection
    * verbatim, rows streamed in O(dict-window) from members of any
    * size. */
  def sedumpTableRanged(paths: DataFrame, member: String,
      attrs: Seq[String]): DataFrame =
    sedumpAttrColumns(
      sedumpRowsRanged(paths,
        "^" + java.util.regex.Pattern.quote(member) + "$")
        .select(col("path"), col("r"), col("crc_checked")),
      attrs, extra = Seq("crc_checked"))

  /** Streaming twin of [[sedumpPosts]] — `.7z` dumps landing in a
    * watched directory emit post rows through the same projection
    * verbatim, so the two ingest modes cannot drift. */
  def sedumpPostsStream(spark: SparkSession, dir: String): DataFrame =
    sedumpPosts(watch(spark, dir, "*.7z"))

  /** Streaming twin of [[warcZstRecords]] — same projection verbatim,
    * dictionary frames and all. */
  def warcZstStream(spark: SparkSession, dir: String): DataFrame =
    warcZstRecords(watch(spark, dir, "*.warc.zst"))

  /** The `.warc.zst` CORPUS SINK — the zstd twin of [[wikidumpSink]],
    * for the other giant-file corpus format: each PARTITION becomes one
    * `part-<pid>.warc.zst` with a LEADING SKIPPABLE frame (the
    * dictionary-slot convention real `.warc.zst` distributions wear;
    * RFC 8878 §3.1.2) followed by ONE zstd frame PER RECORD — the
    * frame-per-record layout that makes the file splittable at frame
    * boundaries, so `zstd_extents` cuts it back into per-record tasks
    * (x260) and [[Zstandard.decode]] reads it whole, skippable and
    * all. Streamed record-by-record to the Hadoop FS output
    * executor-side: the sink never holds more than one record's frame
    * in heap (the wikidumpSink posture). `records`: (uri, date,
    * payload) rows; the x264 gate closes the write → frame-split →
    * parse circle byte-exactly.
    *
    * With `dict = Some(d)` the sink writes the FULL IIPC dictionary
    * convention: the leading skippable frame wears the pinned
    * 0x184D2A5D "dictionary" magic and carries `d`, and every record
    * frame is compressed REFERENCING it (train one with
    * [[trainWarcDict]]) — the layout that makes tiny per-record
    * frames compress like a big stream. [[warcZstRecords]] reads
    * either form back; the x265 gate closes the dictionary circle. */
  def warcZstSink(records: DataFrame, dir: String,
      dict: Option[Array[Byte]] = None): Unit = {
    val spark = records.sparkSession
    import spark.implicits._
    import graft.functions.{Warc, Zstandard}
    val bc = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val bcDict = spark.sparkContext.broadcast(dict)
    records.select(col("uri"), col("date"), col("payload"))
      .as[(String, String, Array[Byte])]
      .foreachPartition { (it: Iterator[(String, String, Array[Byte])]) =>
        if (it.hasNext) {
          val d = bcDict.value
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val p = new org.apache.hadoop.fs.Path(
            dir, f"part-$pid%05d.warc.zst")
          val os = p.getFileSystem(bc.value.value).create(p, true)
          try {
            // leading skippable frame: LE magic + LE32 size + content.
            // 0x184D2A5D = the IIPC dictionary slot; 0x184D2A50 = a
            // plain metadata skippable when no dictionary is used
            val (magic0, content) = d match {
              case Some(bytes) => (0x5D.toByte, bytes)
              case None => (0x50.toByte, "graft warc.zst v1".getBytes("UTF-8"))
            }
            os.write(Array[Byte](magic0, 0x2A, 0x4D, 0x18))
            os.write(Array[Byte](
              (content.length & 0xFF).toByte,
              ((content.length >> 8) & 0xFF).toByte,
              ((content.length >> 16) & 0xFF).toByte,
              ((content.length >> 24) & 0xFF).toByte))
            os.write(content)
            it.foreach { case (uri, date, payload) =>
              val rec = Warc.build(Seq(("response", uri, date, payload)))
              os.write(d match {
                case Some(bytes) => Zstandard.encodeWithDict(rec, bytes)
                case None => Zstandard.encode(rec)
              })
            }
          } finally os.close()
        }
      }
  }

  /** Train a zstd dictionary for [[warcZstSink]] from up to
    * `maxSamples` record payloads — a bounded, model-sized driver
    * collect (the IVF-centroid precedent: the DICTIONARY is a model
    * artifact, not data). Throws when zstd's trainer judges the
    * samples too few/too uniform; callers fall back to `dict = None`. */
  def trainWarcDict(records: DataFrame, maxSamples: Int = 1024,
      dictBytes: Int = 16 << 10): Array[Byte] =
    graft.functions.Zstandard.trainDictionary(
      records.select(col("payload")).limit(maxSamples)
        .collect().map(_.getAs[Array[Byte]](0)).toSeq,
      dictBytes)

  /** The read side of [[warcZstSink]], both forms: (path, content)
    * rows of `.warc.zst` → one row per WARC record. The leading
    * skippable frame is probed for the IIPC dictionary
    * (`zstd_dict`); record frames decode plain or
    * dictionary-referencing accordingly (`zstd_bytes_dict`), each on
    * its own extent. Route, don't drop: a torn frame, a frame
    * compressed against a missing/different dictionary, or a file
    * that is not zstd at all each surface as one (ok = false) row.
    * Per-row work — no shuffle touches the archive bytes.
    *
    * Column-path scoping: input rides the `content` column, bounded by
    * Spark's 2 GB binary limit — the right shape for Common-Crawl-style
    * distributions, which ship ~1 GB segments precisely so whole-file
    * handling stays cheap. A beyond-2 GB monolith takes
    * [[warcZstRanged]], the ranged frame walk. */
  def warcZstRecords(files: DataFrame): DataFrame = {
    import graft.functions.{ZstdBytes, ZstdBytesDict, ZstdDictExpr,
      ZstdExtents}
    warcRecordColumns(files
      .withColumn("dict", ZstdDictExpr.zstdDict(col("content")))
      .withColumn("exts", ZstdExtents.zstdExtents(col("content")))
      .select(col("path"), col("dict"), col("content"),
        posexplode_outer(col("exts")).as(Seq("f0", "ext")))
      .withColumn("fr", expr(
        "substring(content, cast(ext.off as int) + 1, cast(ext.len as int))"))
      .withColumn("w",
        when(col("dict").isNull, ZstdBytes.zstdBytes(col("fr")))
          .otherwise(ZstdBytesDict.zstdBytesDict(col("fr"), col("dict"))))
      .select(col("path"),
        when(col("ext").isNotNull, col("f0") + 1)
          .otherwise(lit(-1)).cast("int").as("frame"),
        col("w")))
  }

  /** The record projection [[warcZstRecords]] and [[warcZstRanged]]
    * share verbatim over (path, frame, w) decoded-frame rows — the two
    * ingest modes cannot drift. */
  private def warcRecordColumns(frames: DataFrame,
      extra: Seq[String] = Nil): DataFrame = {
    import graft.functions.WarcRecords
    frames
      .select(Seq(col("path"), col("frame")) ++ extra.map(col) :+
        explode_outer(WarcRecords.warcRecords(col("w"))).as("r"): _*)
      .select(Seq(col("path"), col("frame"),
        col("r.rec_type").as("rec_type"), col("r.uri").as("uri"),
        col("r.date").as("date"), col("r.payload").as("payload"),
        col("r").isNotNull.as("ok")) ++ extra.map(col): _*)
  }

  /** Ranged twin of [[warcZstRecords]] for `.warc.zst` monoliths past
    * the 2 GB binary-column bound — the zstd member of the ranged
    * trio: input is a LISTING (a `path` column); frame extents come
    * from a streaming BLOCK-HEADER walk (3 bytes read per block,
    * payloads skipped, O(1) memory, no decompression —
    * [[graft.sources.RangedZstd.scanExtents]], deriving from the
    * format what real `.warc.zst` tooling keeps in external seek
    * tables); the (path, frame) repartition spreads decode BEFORE any
    * payload byte is read; and each task range-reads exactly one
    * frame, resolving the leading-skippable IIPC dictionary once per
    * (task, file). Same projection as the column path verbatim; same
    * quarantine currency (not-zstd → one frame = -1 row; a torn tail
    * or an over-`maxFrameBytes` frame decodes to null and routes). */
  def warcZstRanged(paths: DataFrame,
      maxFrameBytes: Long =
        graft.sources.RangedBz2.DefaultMaxExtentBytes): DataFrame = {
    val spark = paths.sparkSession
    import spark.implicits._
    import graft.functions.Zstandard
    import graft.sources.{RangedBz2, RangedZstd}
    val bc = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val extents = spreadBy(paths.select(col("path")), col("path"))
      .as[String]
      .mapPartitions { it =>
        it.flatMap { p =>
          val e = RangedZstd.scanExtents(bc.value.value, p)
          // route, don't drop — parity with the bounded path's
          // explode_outer: a file whose extent walk finds NO data
          // frames (e.g. only a leading skippable/dictionary frame)
          // still surfaces as one routed frame = -1 row
          if (e == null || e.frames.isEmpty)
            Iterator((p, -1, -1L, -1L, -1L, -1L))
          else e.frames.iterator.zipWithIndex.map { case ((off, len), i) =>
            (p, i + 1, off, len, e.dictOff, e.dictLen)
          }
        }
      }.toDF("path", "frame", "off", "len", "dictOff", "dictLen")
    val frames = spreadBy(extents, col("path"), col("frame"))
      .as[(String, Int, Long, Long, Long, Long)]
      .mapPartitions { it =>
        val conf = bc.value.value
        // the dictionary is per FILE and tiny; resolve once per task
        val dicts = scala.collection.mutable.Map[String, Array[Byte]]()
        it.map { case (p, f, off, len, dOff, dLen) =>
          var checked = false
          val w =
            if (f < 0) null
            else {
              val fr = RangedBz2.readRange(conf, p, off, len, maxFrameBytes)
              if (fr == null) null
              else {
                val dict =
                  if (dLen <= 0) null
                  else dicts.getOrElseUpdate(p, {
                    val head = RangedBz2.readRange(conf, p, dOff, dLen)
                    if (head == null) null
                    else Zstandard.leadingDictionary(head)
                  })
                val d = if (dict == null) Zstandard.decode(fr)
                  else Zstandard.decodeWithDict(fr, dict)
                // Content_Checksum_flag (RFC 8878 §3.1.1.1 FHD bit 2):
                // libzstd verifies the trailing XXH64 during streaming
                // decode, so a flag-bearing frame that decoded is
                // checksum-VERIFIED output — the zstd twin of the 7z
                // path's crc_checked
                checked = d != null && fr.length > 4 && (fr(4) & 0x04) != 0
                d
              }
            }
          (p, f, w, checked)
        }
      }.toDF("path", "frame", "w", "crc_checked")
    warcRecordColumns(frames, extra = Seq("crc_checked"))
  }

  /** Continuous dump ingest over a directory watch — the streaming twin
    * of [[wikidumpPages]] (the pdfTextStream pattern: a corpus grows as
    * dump files land instead of being re-scanned). */
  def wikidumpStream(spark: SparkSession, dir: String): DataFrame =
    wikidumpPages(watch(spark, dir))

  /** The one member-level extraction chain both [[archiveText]] and
    * [[docText]] project through: dispatch by the member NAME's
    * extension, per-format dead-letter rows (`ok = false`, null text)
    * when the inner format breaks. Input: (path, m) with
    * m = struct(name, ok, payload) or null (container quarantine). */
  private def memberText(members: DataFrame): DataFrame = {
    import graft.functions.{PdfText, ZipEntries}
    members
      .withColumn("kind", expr(
        """CASE WHEN m IS NULL THEN 'unreadable'
          |     WHEN NOT m.ok THEN 'corrupt'
          |     WHEN m.name LIKE '%.txt' THEN 'txt'
          |     WHEN m.name LIKE '%.pdf' THEN 'pdf'
          |     WHEN m.name LIKE '%.docx' THEN 'docx'
          |     WHEN m.name LIKE '%.xlsx' THEN 'xlsx'
          |     WHEN m.name LIKE '%.pptx' THEN 'pptx'
          |     WHEN m.name LIKE '%.odt' THEN 'odt'
          |     WHEN m.name LIKE '%.ods' THEN 'ods'
          |     WHEN m.name LIKE '%.odp' THEN 'odp'
          |     WHEN m.name LIKE '%.epub' THEN 'epub'
          |     WHEN m.name LIKE '%.rtf' THEN 'rtf'
          |     WHEN m.name LIKE '%.eml' THEN 'eml'
          |     ELSE 'other' END""".stripMargin))
      .withColumn("pdf_pages",
        when(col("kind") === "pdf", PdfText.pdfText(col("m.payload"))))
      .withColumn("ies",
        when(col("kind").isin("docx", "xlsx", "pptx"),
          ZipEntries.zipEntries(col("m.payload"))))
      .withColumn("doc_xml", expr(
        """CASE WHEN size(filter(ies, e -> e.name = 'word/document.xml')) = 1
          |  THEN cast(filter(ies,
          |    e -> e.name = 'word/document.xml')[0].payload AS STRING) END"""
          .stripMargin))
      // the x237 shape: shared-string indices resolved from the string
      // table, inline and numeric cells in place; tabs between cells,
      // newlines between rows — over EVERY sheet member (a multi-sheet
      // workbook must not silently drop sheets 2..n), sheets in numeric
      // order joined by newline
      .withColumn("sst", expr(
        """regexp_extract_all(cast(filter(ies,
          |  e -> e.name = 'xl/sharedStrings.xml')[0].payload AS STRING),
          |  '<t[^>]*>([^<]*)</t>', 1)""".stripMargin))
      .withColumn("xlsx_text", expr(
        """CASE WHEN size(filter(ies,
          |    e -> e.name LIKE 'xl/worksheets/sheet%.xml')) <= 0
          |  THEN NULL ELSE
          |array_join(transform(
          |  array_sort(
          |    transform(filter(ies,
          |        e -> e.name LIKE 'xl/worksheets/sheet%.xml'),
          |      e -> struct(
          |        cast(regexp_extract(e.name, 'sheet(\\d+)\\.xml', 1)
          |             AS INT) AS n,
          |        cast(e.payload AS STRING) AS xml))),
          |  sh -> array_join(transform(
          |    regexp_extract_all(sh.xml, '<row[^>]*>(.*?)</row>', 1),
          |    r -> array_join(
          |      transform(regexp_extract_all(r, '<c [^>]*>.*?</c>', 0), c ->
          |        CASE WHEN c LIKE '%t="s"%' THEN
          |          element_at(sst, cast(regexp_extract(c, '<v>(\\d+)</v>', 1)
          |                               AS INT) + 1)
          |        WHEN c LIKE '%t="inlineStr"%' THEN
          |          regexp_extract(c, '<t[^>]*>([^<]*)</t>', 1)
          |        ELSE regexp_extract(c, '<v>([^<]*)</v>', 1) END),
          |      '\t')), '\n')), '\n') END""".stripMargin))
      // the x238 shape: runs concatenate within a paragraph, paragraphs
      // and slides join by newline
      .withColumn("pptx_text", expr(
        """array_join(transform(
          |  filter(ies, e -> e.name LIKE 'ppt/slides/slide%.xml'),
          |  sl -> array_join(transform(
          |    regexp_extract_all(cast(sl.payload AS STRING),
          |                       '<a:p>(.*?)</a:p>', 1),
          |    p -> array_join(
          |      regexp_extract_all(p, '<a:t>([^<]*)</a:t>', 1), '')),
          |    '\n')), '\n')""".stripMargin))
      .withColumn("odt_text",
        when(col("kind") === "odt",
          graft.functions.OdtText.odtText(col("m.payload"))))
      .withColumn("ods_text",
        when(col("kind") === "ods",
          graft.functions.OdsText.odsText(col("m.payload"))))
      .withColumn("odp_text",
        when(col("kind") === "odp", array_join(
          graft.functions.OdpSlides.odpSlides(col("m.payload")), "\n")))
      .withColumn("epub_chs",
        when(col("kind") === "epub",
          graft.functions.EpubChapters.epubChapters(col("m.payload"))))
      // chapter texts join by newline; a missing spine member's null
      // chapter is skipped (array_join's default) — the member-level
      // quarantine already routed it
      .withColumn("epub_text",
        expr("array_join(transform(epub_chs, c -> c.text), '\n')"))
      .withColumn("rtf_text",
        when(col("kind") === "rtf",
          graft.functions.RtfText.rtfText(col("m.payload"))))
      .withColumn("eml",
        when(col("kind") === "eml",
          graft.functions.EmlParse.emlParse(col("m.payload"))))
      .withColumn("text", expr(
        """CASE WHEN kind = 'txt' THEN cast(m.payload AS STRING)
          |     WHEN kind = 'pdf' THEN array_join(pdf_pages, '\n')
          |     WHEN kind = 'docx' THEN array_join(regexp_extract_all(
          |       doc_xml, '<w:t[^>]*>([^<]*)</w:t>', 1), ' ')
          |     WHEN kind = 'xlsx' THEN xlsx_text
          |     WHEN kind = 'pptx' THEN pptx_text
          |     WHEN kind = 'odt' THEN odt_text
          |     WHEN kind = 'ods' THEN ods_text
          |     WHEN kind = 'odp' THEN odp_text
          |     WHEN kind = 'epub' THEN epub_text
          |     WHEN kind = 'rtf' THEN rtf_text
          |     WHEN kind = 'eml' THEN eml.text
          |END""".stripMargin))
      .select(col("path"), col("m.name").as("member"), col("kind"),
        col("text"), length(col("text")).cast("long").as("n_chars"),
        (col("text").isNotNull && col("kind").isin(
          "txt", "pdf", "docx", "xlsx", "pptx", "odt", "ods", "odp",
          "epub", "rtf", "eml")).as("ok"))
  }

  /** Continuous archive ingest over a directory watch — the streaming
    * twin of the x162/x163/x233/x234 batch container gates: every
    * `.zip` / `.tar` dropped into `dir` explodes to per-member text rows
    * through the SAME [[archiveText]] projection the batch path runs
    * (ArchiveTextStreamSpec proves the two produce identical rows on
    * mixed drops). */
  def archiveTextStream(spark: SparkSession, dir: String): DataFrame =
    archiveText(watch(spark, dir))

  /** Streaming incremental-dedup gate against a PRIOR corpus's Bloom
    * filter (the x166 batch gate's streaming twin): text files dropped
    * into a watched directory are tokenized and 8-gram-shingled IN-ROW,
    * each gram tested against the filter `bits` (built once batch-side
    * by [[graft.functions.BloomBits]] and embedded as a plan literal —
    * ~m/8 bytes shipped once per executor, the stream never joins the
    * prior corpus), and each file admitted iff its share of UNSEEN
    * grams reaches `minNovelty`. Same md5-prefix bucket formulas as the
    * batch gate, so batch and stream verdicts cannot drift; no false
    * negatives — a gram the filter rejects is genuinely novel. A file
    * too short to produce any 8-gram has novelty 0 and is NOT admitted
    * (deliberate: sub-shingle fragments carry no dedup evidence, so the
    * conservative gate holds them back rather than waving them in). */
  def bloomGateStream(spark: SparkSession, dir: String, bits: Array[Long],
      mBits: Int, minNovelty: Double = 0.5): DataFrame = {
    require(bits.length == mBits / 64, "bits length must match mBits")
    val files = watch(spark, dir)
    def seen(j: Int): String =
      s"""(element_at(bits, cast(cast(conv(substr(md5(concat('$j', g)), 1, 15),
         |16, 10) as bigint) % $mBits div 64 as int) + 1)
         | & shiftleft(cast(1 as bigint),
         |cast(cast(conv(substr(md5(concat('$j', g)), 1, 15), 16, 10) as bigint)
         | % $mBits % 64 as int))) != 0""".stripMargin.replace("\n", "")
    files
      .select(col("path"), col("content").cast("string").as("text"))
      .withColumn("grams", graft.queries.Core.wordNgrams(
        graft.queries.Core.tokens(col("text")), 8))
      .withColumn("bits", typedlit(bits.toSeq))
      .withColumn("n_grams", size(col("grams")))
      .withColumn("n_seen", size(expr(
        s"filter(grams, g -> ${seen(0)} AND ${seen(1)} AND ${seen(2)})")))
      .withColumn("novelty",
        when(col("n_grams") === 0, 0.0)
          .otherwise((col("n_grams") - col("n_seen"))
            .cast("double") / col("n_grams")))
      .select(col("path"), col("n_grams"), col("n_seen"), col("novelty"),
        (col("novelty") >= minNovelty).as("admit"))
  }

  /** The JSONL line-parse projection shared by the x170 batch gate and
    * [[jsonlTextStream]] so the two ingest modes cannot drift: input
    * needs a `line` string column; adds `j`, the parsed struct under
    * `schema` with an explicit `_bad` corrupt-record column (PERMISSIVE
    * mode) — a malformed line surfaces as `j._bad != null`, it never
    * throws. */
  def jsonlParse(lines: DataFrame, schema: String): DataFrame =
    lines.withColumn("j", from_json(col("line"), schema + ", _bad STRING",
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_bad")))

  /** Streaming JSONL corpus ingest over a directory watch: `.jsonl`
    * files dropped into `dir` split to lines and parse through the SAME
    * [[jsonlParse]] projection as the batch gate. One row per line:
    * (path, line_no, ok, j struct) — corrupt lines arrive flagged, not
    * dropped and not fatal (dead-letter posture). */
  def jsonlTextStream(spark: SparkSession, dir: String,
      schema: String): DataFrame = {
    val files = watch(spark, dir)
    jsonlParse(
      files
        .select(col("path"),
          posexplode(split(col("content").cast("string"), "\n"))
            .as(Seq("line_no", "line")))
        .filter(col("line") =!= ""),
      schema)
      .select(col("path"), col("line_no"), col("j._bad").isNull.as("ok"),
        col("j"))
  }

  /** The Gopher-rule admission projection (x183's batch gate), shared
    * with [[qualityGateStream]] so batch curation and streaming ingest
    * cannot drift: integer-exact features (word count, `100·Σlen div n`
    * mean word length, top-token frequency ppm, stopword hits) plus
    * per-rule booleans and the final `admit`. Input needs a `text`
    * column; everything is an in-row codegen'd expression. */
  def gopherAdmit(docs: DataFrame): DataFrame = {
    val stops = "'the','a','is','of','and','to','that','with'"
    docs
      .withColumn("l", graft.queries.Core.tokens(col("text")))
      .withColumn("n_words", size(col("l")).cast("long"))
      // greatest(n,1): an empty/corrupt doc yields 0-features under ANSI
      // mode instead of DIVIDE_BY_ZERO — the gate must never kill a stream
      .withColumn("mean_len_x100",
        expr("100 * aggregate(l, 0L, (a, x) -> a + length(x)) div greatest(size(l), 1)"))
      .withColumn("top_frac_ppm",
        expr("""aggregate(array_distinct(l), 0L, (m, t) ->
               |  greatest(m, size(filter(l, x -> x = t)))) * 1000000
               |  div greatest(size(l), 1)""".stripMargin))
      .withColumn("n_stop",
        expr(s"cast(size(filter(l, x -> x IN ($stops))) as bigint)"))
      .withColumn("r_words", col("n_words") >= 30)
      .withColumn("r_len", col("mean_len_x100").between(400, 520))
      .withColumn("r_rep", col("top_frac_ppm") <= 150000)
      .withColumn("r_stop", col("n_stop") >= 2)
      .withColumn("admit",
        col("r_words") && col("r_len") && col("r_rep") && col("r_stop"))
      .drop("l")
  }

  /** Streaming quality gate: `.jsonl` documents dropped into `dir` parse
    * through [[jsonlTextStream]] and every well-formed line's `text` runs
    * the SAME [[gopherAdmit]] battery as the x183 batch gate — admitted
    * docs flow on with their features, rejected and corrupt lines stay
    * visible (`admit` false / `ok` false) for dead-letter accounting.
    * Per-row map only: the stream shuffles nothing. */
  def qualityGateStream(spark: SparkSession, dir: String): DataFrame =
    gopherAdmit(
      jsonlTextStream(spark, dir, "id BIGINT, text STRING")
        .withColumn("text", coalesce(col("j.text"), lit(""))))
      .select(col("path"), col("line_no"), col("ok"), col("j.id").as("id"),
        col("n_words"), col("mean_len_x100"), col("top_frac_ppm"),
        col("n_stop"), col("admit"))

  /** Chat-template loss accounting over any frame with a `rendered`
    * string column (`<|role|>content` segments) — the x215 parse-back,
    * shared verbatim by the batch gate and [[chatMaskStream]] so the
    * render/mask logic can never diverge between them. Adds
    * total/trainable/masked token counts and the trainable ratio in ppm;
    * pure in-row folds, no shuffle. */
  def chatMaskStats(df: DataFrame): DataFrame =
    df
      .withColumn("segs", expr(
        "filter(split(rendered, '<\\\\|'), x -> x != '')"))
      .withColumn("total_tokens", expr(
        "aggregate(segs, 0L, (a, s) -> a + 1 +" +
          " size(split(substring_index(s, '|>', -1), ' ')))"))
      .withColumn("trainable_tokens", expr(
        "aggregate(segs, 0L, (a, s) -> a + CASE WHEN" +
          " substring_index(s, '|>', 1) = 'assistant' THEN" +
          " size(split(substring_index(s, '|>', -1), ' ')) ELSE 0L END)"))
      .withColumn("masked_tokens",
        col("total_tokens") - col("trainable_tokens"))
      .withColumn("trainable_ppm",
        expr("trainable_tokens * 1000000 div total_tokens"))
      .drop("segs")

  /** Streaming SFT-ingest gate: watched `.jsonl` conversations (id +
    * rendered chat template) get the [[chatMaskStats]] accounting per
    * example and an `admit` verdict — examples whose trainable ratio
    * falls under `minTrainablePpm` (prompt-heavy, nothing to learn from)
    * are flagged at ingest, before they cost a training step. Stateless
    * per-row projection; nothing shuffles. */
  def chatMaskStream(spark: SparkSession, dir: String,
      minTrainablePpm: Long = 200000L): DataFrame =
    chatMaskStats(
      jsonlTextStream(spark, dir, "id BIGINT, rendered STRING")
        .filter(col("ok"))
        .select(col("path"), col("line_no"), col("j.id").as("id"),
          col("j.rendered").as("rendered")))
      .withColumn("admit", col("trainable_ppm") >= minTrainablePpm)

  /** Streaming URL decontamination — x191's gate at ingest time, where it
    * belongs (a page excluded before it is ever written costs nothing
    * downstream): watched `.jsonl` crawl records carry (id, url); the url
    * canonicalizes (tracking query string stripped — the crawl side has
    * `?utm_…`, the published eval manifest never does) and checks
    * membership against the manifest embedded as a PLAN LITERAL (the x166
    * bloom posture: an eval-URL manifest is a few thousand entries — it
    * rides the plan to every executor and the stream never joins).
    * Stateless per-row filter; nothing shuffles. */
  def decontamStream(spark: SparkSession, dir: String,
      manifest: Seq[String]): DataFrame =
    jsonlTextStream(spark, dir, "id BIGINT, url STRING")
      .filter(col("ok"))
      .select(col("path"), col("line_no"), col("j.id").as("id"),
        col("j.url").as("url"))
      .withColumn("cu", when(instr(col("url"), "?") > 0,
        col("url").substr(lit(1), instr(col("url"), "?") - 1))
        .otherwise(col("url")))
      .withColumn("blocked",
        array_contains(typedlit(manifest), col("cu")))

  /** Streaming corpus-drift monitor — x185's audit as a standing query:
    * watched `.jsonl` documents bucket by token length and the running
    * per-bucket counts compare against a BASELINE histogram embedded as
    * a plan literal (the x166 bloom posture: the reference corpus never
    * joins the stream — ~10 map entries per executor). Each micro-batch
    * updates the per-bucket volume ratio vs baseline in ppm and flags
    * buckets outside [0.5×, 2×] — the alarm that catches an extractor
    * regression while the corpus is still being written. One streaming
    * aggregation on a 10-key space; nothing else shuffles. */
  def driftMonitorStream(spark: SparkSession, dir: String,
      baseline: Map[Long, Long]): DataFrame = {
    val bl = typedlit(baseline)
    jsonlTextStream(spark, dir, "id BIGINT, text STRING")
      .filter(col("ok"))
      .select(expr(
        "least(size(filter(split(lower(j.text), '[^a-z]+'), x -> x != '')) div 10, 9)")
        .cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("base_cnt", coalesce(element_at(bl, col("bucket")), lit(0L)))
      .withColumn("ratio_ppm",
        expr("cnt * 1000000 div greatest(base_cnt, 1)"))
      // a bucket the baseline never saw is drift by definition — the
      // ratio against greatest(0,1) can land inside the band and hide it
      .withColumn("flagged", col("base_cnt") === 0 ||
        col("ratio_ppm") < 500000 || col("ratio_ppm") > 2000000)
  }

  /** The HTML→main-text projection (script/style removal, tag→space,
    * entity decode, whitespace collapse — codegen'd regexp/string
    * builtins, no UDF), shared verbatim by [[warcTextStream]] and the
    * batch gates so ingest modes cannot drift. Input needs an `html`
    * column; adds title/text/text_len/link_count. */
  def htmlMainText(pages: DataFrame): DataFrame =
    pages
      .withColumn("text", htmlTextCol(col("html")))
      .withColumn("title",
        regexp_extract(col("html"), "(?is)<title>(.*?)</title>", 1))
      .withColumn("text_len", length(col("text")))
      .withColumn("link_count", size(split(col("html"), "<a href=")) - 1)

  /** The strip chain [[htmlMainText]] applies, as a reusable Column so
    * every HTML-bearing surface (crawl pages, Stack-Exchange post
    * bodies) lands on IDENTICAL text: script/style removal, tags →
    * space, the three core entities, whitespace collapse. All
    * codegen'd regexp/string builtins, no UDF. */
  private[graft] def htmlTextCol(html: Column): Column = {
    val stripped = regexp_replace(html,
      "(?is)<script.*?</script>|<style.*?</style>", "")
    val spaced = regexp_replace(stripped, "<[^>]*>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(
      spaced, "&amp;", "&"), "&lt;", "<"), "&gt;", ">")
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Stack-Exchange-style dump ingest (the public archive.org data-dump
    * layout: one `.7z` per site holding attribute-style XML tables —
    * `Posts.xml` is one self-closing `<row Id=".." PostTypeId=".."
    * Body="..entity-escaped HTML.." />` per post). Input (path,
    * content) rows of `.7z` bytes — the member walk rides
    * `sevenz_entries` incl. its delta/BCJ filter-chain folders (x262);
    * each `.xml` member's rows explode, the `Body` attribute decodes
    * its XML entities (`&amp;` last), and the embedded HTML strips to
    * main text through [[htmlTextCol]] — the SAME chain crawl pages
    * take, so post text and page text cannot drift.
    *
    * Row contract (route, don't drop):
    *  - a post: (member, post_id, post_type, text, ok = true);
    *  - a broken container, a member that failed its folder/CRC
    *    decode, an `.xml` member with no rows, or a member where any
    *    `<row` opening failed to close under the quote-aware matcher
    *    [[RowRe]] (a silent subset would be worse): one null-id
    *    (ok = false) row;
    *  - non-XML members (license files, media) emit nothing.
    * Per-row work only — at 100 TB the plan is a map-only scan; no
    * shuffle touches the archive bytes. Members inherit the 7z coder's
    * 256 MiB inflate bound, so a monolithic Posts.xml beyond that
    * quarantines rather than allocating (the documented monolith
    * posture — a giant site's table wants a splittable distribution,
    * as with single-stream dumps). */
  def sedumpPosts(archives: DataFrame): DataFrame = {
    import graft.functions.SevenZipEntries
    val rows = archives
      .withColumn("es", SevenZipEntries.sevenzEntries(col("content")))
      .select(col("path"), explode_outer(col("es")).as("e"))
      .withColumn("mok",
        col("e").isNotNull && coalesce(col("e.crc_ok"), lit(false)))
      // non-XML members drop out; a broken container's null `e` and a
      // dead member both stay visible for the quarantine row below
      .where(col("e").isNull || !col("mok") ||
        col("e.name").rlike("(?i)\\.xml$"))
      .withColumn("xml", when(col("mok"), col("e.payload").cast("string")))
      .withColumn("rows0", when(col("mok"),
        expr(s"regexp_extract_all(xml, '$RowRe', 0)")))
      // route, don't drop: an opening the quote-aware matcher could
      // not close quarantines the member (see [[sedumpTable]])
      .withColumn("rows", when(
        size(expr("regexp_extract_all(xml, '<row\\\\s', 0)")) ===
          size(col("rows0")), col("rows0")))
      .select(col("path"), col("e.name").as("member"),
        explode_outer(col("rows")).as("r"))
    sedumpPostColumns(rows)
  }

  /** The post projection [[sedumpPosts]] and [[sedumpPostsRanged]]
    * share verbatim, over (path, member, r) rows — the two ingest
    * modes cannot drift. */
  private def sedumpPostColumns(rows: DataFrame,
      extra: Seq[String] = Nil): DataFrame =
    rows.select(Seq(col("path"), col("member"),
      rowAttr("Id").cast("long").as("post_id"),
      rowAttr("PostTypeId").cast("int").as("post_type"),
      when(col("r").isNotNull,
        htmlTextCol(xmlUnescapeCol(rowAttr("Body")))).as("text"),
      col("r").isNotNull.as("ok")) ++ extra.map(col): _*)

  /** Ranged twin of [[sedumpPosts]]: same projection verbatim, rows
    * streamed in O(dict-window) heap from `.xml` members of ANY size —
    * the monolithic stackoverflow.com `Posts.xml` ingests instead of
    * quarantining at the bounded path's 256 MiB member bound (see
    * [[sedumpRowsRanged]]). */
  def sedumpPostsRanged(paths: DataFrame): DataFrame =
    sedumpPostColumns(sedumpRowsRanged(paths, "(?i)\\.xml$"),
      extra = Seq("crc_checked"))

  /** A LISTING-only directory watch: the binaryFile source with every
    * column but `path` pruned away — files are never opened by the
    * source (its 2 GB binary-column refusal never trips), so multi-GB
    * monoliths can LAND in a watched directory and ingest through the
    * ranged readers. RangedStreamSpec proves the pruning with a sparse
    * 3 GB file: the bounded source would throw; the listing stream
    * routes it. */
  private def pathStream(spark: SparkSession, dir: String,
      glob: String): DataFrame =
    watch(spark, dir, glob).select(col("path"))

  /** Streaming twin of [[sedumpPostsRanged]] — same projection
    * verbatim over a listing-only watch ([[pathStream]]): the ranged
    * answer to [[sedumpPostsStream]]'s 2 GB bound for dumps that land
    * as monoliths. */
  def sedumpPostsRangedStream(spark: SparkSession, dir: String): DataFrame =
    sedumpPostsRanged(pathStream(spark, dir, "*.7z"))

  /** Streaming twin of [[warcZstRanged]] — same projection verbatim
    * over a listing-only watch. */
  def warcZstRangedStream(spark: SparkSession, dir: String): DataFrame =
    warcZstRanged(pathStream(spark, dir, "*.warc.zst"))

  /** The FRAME-level arm of [[mediaTriageStream]] for MJPEG-shaped video:
    * each watched MP4's sample table explodes to per-frame rows and every
    * frame's bytes run the REAL baseline-JPEG entropy decode — per-frame
    * pixel statistics from a video stream with zero codec libraries (the
    * batch gate is x142; this is the same `video_samples → substring →
    * jpeg_pixels` composition as a streaming plan). Files that are not
    * ISO-BMFF drop out at the explode; frames that are not baseline JPEG
    * surface with null stats (route, don't lose). Per-file work is
    * embarrassingly parallel — at 100 TB the stream partitions by file
    * and no shuffle ever touches the frame bytes. */
  def mjpegFrameStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{JpegPixels, VideoSamples}
    watch(spark, dir)
      .select(col("path"), col("content"),
        explode(VideoSamples.videoSamples(col("content"))).as("s"))
      .select(col("path"),
        col("s.track_id").as("track_id"),
        col("s.sample_idx").as("sample_idx"),
        col("s.size").as("frame_bytes"),
        JpegPixels.jpegPixels(
          expr("substring(content, CAST(s.offset AS INT) + 1, s.size)")).as("p"))
      .select(col("path"), col("track_id"), col("sample_idx"),
        col("frame_bytes"),
        col("p.width").as("width"), col("p.height").as("height"),
        col("p.n_px").as("n_px"), col("p.luma_sum").as("luma_sum"))
  }
}
