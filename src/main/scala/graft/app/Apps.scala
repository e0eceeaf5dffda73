package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.batch.ChunkRow
import graft.core.ChunkCodec
import graft.streaming.{AssemblyStream, CompletedFileWriter, Pipelines}

/** CLI entry points mirroring the reference's console scripts
  * (openmsistream pyproject.toml:22-31): upload a directory as chunks,
  * reconstruct a directory from chunks, run a stream processor over
  * completed files. The transport here is a file-backed topic (a directory
  * of parquet `(key, value)` batches) so the apps run in this offline
  * environment; `graft.streaming.Pipelines.toKafka/fromKafka` swap in the
  * broker transport unchanged.
  */
object AppSession {
  def require(ok: Boolean, usage: String): Unit =
    if (!ok) { System.err.println(s"usage: $usage"); sys.exit(1) }

  def fail(msg: String): Nothing = {
    System.err.println(s"error: $msg"); sys.exit(1)
  }

  /** `--name=value` flag extraction (UTF-8 bytes for AES keys: 16/24/32). */
  def flagValue(args: Array[String], name: String): Option[String] =
    args.collectFirst { case a if a.startsWith(s"--$name=") =>
      a.substring(name.length + 3) }

  /** Reject any `--` argument that is not a recognized flag — a misspelled
    * `--encrypt_key=K` silently uploading PLAINTEXT is the failure mode
    * this guards against. `allowed` entries are bare names ("disk-mode")
    * or value-flag names ("decrypt-key", matched as `--decrypt-key=...`). */
  def rejectUnknownFlags(args: Array[String], usage: String,
      boolFlags: Set[String] = Set.empty,
      valueFlags: Set[String] = Set.empty): Unit =
    args.filter(_.startsWith("--")).foreach { a =>
      val name = a.stripPrefix("--").takeWhile(_ != '=')
      val ok =
        (boolFlags.contains(name) && a == s"--$name") ||
        (valueFlags.contains(name) && a.startsWith(s"--$name="))
      if (!ok) {
        System.err.println(s"unknown or malformed flag: '$a'\nusage: $usage")
        sys.exit(1)
      }
    }

  /** Shared consume preamble: read the file-backed topic, decode with
    * dead-letter routing, and start the `_quarantine` sink under `baseDir`
    * — one corrupt message must never poison a checkpointed query, and
    * every app leaves the same queryable trail. Returns the good chunks
    * and the quarantine query to await. */
  def consumeWithQuarantine(spark: SparkSession, topicDir: String, baseDir: String):
      (org.apache.spark.sql.Dataset[ChunkRow],
       org.apache.spark.sql.streaming.StreamingQuery) = {
    import spark.implicits._
    val wire = spark.readStream
      .schema("key STRING, value BINARY")
      .parquet(topicDir)
    val decoded = graft.batch.ChunkPipeline.decodeOrDeadLetter(wire)
    decodedWithQuarantine(decoded, baseDir)
  }

  /** Same quarantine contract for callers that pre-process the wire (e.g.
    * decrypt) before decoding. */
  def decodedWithQuarantine(
      decoded: org.apache.spark.sql.Dataset[graft.batch.ChunkPipeline.DecodeResult],
      baseDir: String):
      (org.apache.spark.sql.Dataset[ChunkRow],
       org.apache.spark.sql.streaming.StreamingQuery) = {
    val spark = decoded.sparkSession
    import spark.implicits._
    val good = decoded.filter(_.error == null).map(_.chunk.get)
    val qBad = decoded.filter(_.error != null)
      .map(d => (d.key, d.value, d.error)).toDF("key", "value", "error")
      .writeStream
      .format("parquet")
      .option("path", s"$baseDir/_quarantine")
      .option("checkpointLocation", s"$baseDir/_checkpoint_quarantine")
      .trigger(Trigger.AvailableNow())
      .start()
    (good, qBad)
  }

  /** A `SPARK_GRAFT_CPUS` value as a task-slot count: plain decimal
    * digits naming a positive Int, else None. */
  def parseCpus(raw: String): Option[Int] =
    if (raw.forall(_.isDigit)) raw.toIntOption.filter(_ > 0) else None

  def make(name: String): SparkSession = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val cpus = parseCpus(raw).getOrElse(
      fail(s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'"))
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(name)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // List files on the driver. Every file-stream micro-batch hands its
      // files to InMemoryFileIndex as root paths, and above this threshold
      // (default 32) Spark lists them in a job with one task per file. The
      // session is always local[N], so those tasks run in this JVM against
      // the same filesystem: the job adds no I/O parallelism, only a job
      // per micro-batch whose cost grows with the file count.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toLong)
    // RocksDB state store for large assembly state (SCALE.md); HDFS-backed
    // default keeps small runs light. SPARK_GRAFT_STATE_STORE=rocksdb opts in,
    // with changelog checkpointing (incremental deltas, not full snapshots).
    if (sys.env.get("SPARK_GRAFT_STATE_STORE").contains("rocksdb")) {
      builder.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      builder.config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** `UploadDirectoryApp <srcDir> <topicDir> [chunkSize] [--watch-modified]` —
  * S1/S2+T1+C1+K1: watch/scan a directory, chunk, wire-encode, produce to
  * the topic. Runs one availableNow pass (the standing-watch mode just
  * drops the trigger). `--watch-modified` swaps in the custom DSv2 source
  * that RE-EMITS modified files (the reference watchdog's semantic) —
  * incremental re-runs then re-upload overwritten files as newer
  * generations instead of ignoring them. */
object UploadDirectoryApp {
  def main(args: Array[String]): Unit = {
    val usage =
      "UploadDirectoryApp <srcDir> <topicDir> [chunkSize] [--watch-modified] " +
      "[--encrypt-key=K | --key-exchange] [--producer-identity=<dir>] " +
      "[--allow=<fp1,fp2,...>] [--max-files-per-trigger=N] [--max-bytes-per-trigger=B]"
    AppSession.rejectUnknownFlags(args, usage,
      boolFlags = Set("watch-modified", "key-exchange"),
      valueFlags = Set("encrypt-key", "producer-identity", "allow",
        "max-files-per-trigger", "max-bytes-per-trigger"))
    val watchModified = args.contains("--watch-modified")
    // --key-exchange: C4bis managed keys — mint a fresh per-topic data key,
    // publish it on <topicDir>.keys wrapped for every consumer announced on
    // <topicDir>.reqs (AnnounceKeyApp), and encrypt the wire with it. The
    // rotation generation is one past the highest already published.
    val keyExchange = args.contains("--key-exchange")
    val explicitKey = AppSession.flagValue(args, "encrypt-key")
    AppSession.require(!(keyExchange && explicitKey.isDefined),
      "--encrypt-key and --key-exchange are mutually exclusive\n" + usage)
    val encryptKey: Option[Array[Byte]] = explicitKey.map(_.getBytes("UTF-8"))
    val maxFiles = AppSession.flagValue(args, "max-files-per-trigger").map(_.toInt).getOrElse(0)
    val maxBytes = AppSession.flagValue(args, "max-bytes-per-trigger").map(_.toLong).getOrElse(0L)
    // Admission caps are a property of the modified-files source; the plain
    // availableNow batch path has no trigger loop to cap. Accepting them
    // there would silently upload everything — exactly the ignored-flag
    // failure mode rejectUnknownFlags exists to prevent, so fail fast.
    AppSession.require(watchModified || (maxFiles == 0 && maxBytes == 0),
      "--max-files-per-trigger/--max-bytes-per-trigger require --watch-modified\n" + usage)
    val positional = args.filterNot(_.startsWith("--"))
    AppSession.require(positional.length >= 2, usage)
    val Array(srcDir, topicDir, rest @ _*) = positional: @unchecked
    val chunkSize = rest.headOption.map(_.toInt).getOrElse(graft.core.Chunker.DefaultChunkSize)
    val spark = AppSession.make("graft-upload")
    val plainWire =
      if (watchModified) Pipelines.uploadDirectoryStreamModified(spark, srcDir, chunkSize,
        maxFilesPerTrigger = maxFiles, maxBytesPerTrigger = maxBytes)
      else Pipelines.uploadDirectoryStream(spark, srcDir, chunkSize)
    // C4 chained serde: pack → encrypt (reference CompoundSerDes shape).
    // Key-exchange mode resolves the key through the side-topic protocol
    // BEFORE the stream starts: announced consumers get the wrapped data
    // key; a topic with no announcements fails fast instead of producing
    // ciphertext nobody will ever decrypt.
    // --producer-identity gives the producer a DURABLE signing identity so
    // consumers can pin its fingerprint (--trust-producers on download);
    // without it each run signs under a fresh ephemeral identity (valid,
    // but unpinnable). --allow restricts wrapping to the listed consumer
    // Ed25519 fingerprints (printed by AnnounceKeyApp).
    val kxKey: Option[Array[Byte]] = if (keyExchange) {
      import graft.streaming.KeyExchange
      AppSession.require(KeyExchange.announcements(topicDir).nonEmpty,
        s"--key-exchange: no consumers announced on $topicDir.reqs — run " +
          "AnnounceKeyApp <topicDir> <identityDir> first")
      val topic = new java.io.File(topicDir).getName
      val producerId = AppSession.flagValue(args, "producer-identity")
        .map(KeyExchange.loadOrCreateIdentity)
        .getOrElse(KeyExchange.newIdentity())
      System.err.println(s"[key-exchange] producer fingerprint: ${producerId.fingerprint}")
      val allow = AppSession.flagValue(args, "allow")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      val (dataKey, nWrapped) = KeyExchange.publishDataKeyCounted(topicDir,
        topic, "producer", producerId, KeyExchange.nextGeneration(topicDir), allow)
      // an over-tight allow-list must fail HERE, not produce a topic of
      // ciphertext no consumer can ever decrypt
      AppSession.require(nWrapped >= 1,
        s"--key-exchange: no announced consumer passed the allow-list on " +
          s"$topicDir.reqs — check the fingerprints (AnnounceKeyApp prints them)")
      Some(dataKey)
    } else None
    val wire = kxKey.orElse(encryptKey).fold(plainWire)(k =>
      graft.streaming.WireCrypto.encryptValues(plainWire, k))
    val q = wire.writeStream
      .format("parquet")
      .option("path", topicDir)
      .option("checkpointLocation", s"$topicDir/_checkpoint_upload")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.stop()
  }
}

/** `DownloadDirectoryApp <topicDir> <outDir> [--disk-mode]` —
  * S4+C2+G1/G2+K2: consume the topic, hash-verify + reassemble, write
  * completed files to disk. Undecodable/corrupt messages dead-letter to
  * `<outDir>/_quarantine` instead of failing the run (the reference's
  * ENCRYPTED_MESSAGES/ shape, data_file_download_directory.py:108-136).
  * `--disk-mode` selects the large-file path (reference `mode="disk"`):
  * payloads write straight to positioned offsets, state stays tiny, and
  * verified manifests land in `<outDir>/_manifests`. */
object DownloadDirectoryApp {
  def main(args: Array[String]): Unit = {
    val usage =
      "DownloadDirectoryApp <topicDir> <outDir> [--disk-mode] " +
      "[--decrypt-key=K | --key-exchange=<identityDir>] [--trust-producers=<fp1,fp2,...>]"
    AppSession.rejectUnknownFlags(args, usage,
      boolFlags = Set("disk-mode"),
      valueFlags = Set("decrypt-key", "key-exchange", "trust-producers"))
    val diskMode = args.contains("--disk-mode")
    val explicitKey = AppSession.flagValue(args, "decrypt-key")
    // --key-exchange=<identityDir>: recover the wire key through the C4bis
    // side-topic protocol — the identity dir holds this consumer's durable
    // X25519 keypair (created by AnnounceKeyApp; party name = dir basename),
    // and the newest unwrappable generation on <topicDir>.keys wins.
    val kxIdentity = AppSession.flagValue(args, "key-exchange")
    AppSession.require(!(explicitKey.isDefined && kxIdentity.isDefined),
      "--decrypt-key and --key-exchange are mutually exclusive\n" + usage)
    val positional = args.filterNot(_.startsWith("--"))
    AppSession.require(positional.length == 2, usage)
    val Array(topicDir, outDir) = positional: @unchecked
    // Key RING, newest first: --decrypt-key is a 1-key ring; --key-exchange
    // loads every generation that unwraps, so in-flight messages under a
    // superseded generation keep decrypting through the rotation window.
    val decryptKeys: Option[Seq[Array[Byte]]] =
      explicitKey.map(k => Seq(k.getBytes("UTF-8")))
      .orElse(kxIdentity.map { idDir =>
        import graft.streaming.KeyExchange
        val party = new java.io.File(idDir).getName
        val topic = new java.io.File(topicDir).getName
        // --trust-producers pins the producer Ed25519 fingerprints whose
        // (signed) key messages we accept; unset = any valid signature
        val trusted = AppSession.flagValue(args, "trust-producers")
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
        val ring = KeyExchange.fetchAllDataKeys(topicDir, topic, party,
          KeyExchange.loadOrCreateIdentity(idDir), trusted)
        if (ring.isEmpty) {
          System.err.println(
            s"[key-exchange] no data key for party '$party' on $topicDir.keys — " +
            "announce first (AnnounceKeyApp) and re-run the producer with " +
            "--key-exchange; consuming as ciphertext would dead-letter everything")
          sys.exit(1)
        }
        System.err.println(
          s"[key-exchange] key ring: generations ${ring.map(_._1).mkString(", ")}")
        ring.map(_._2)
      })
    val spark = AppSession.make("graft-download")
    import spark.implicits._
    val rawWire = spark.readStream
      .schema("key STRING, value BINARY")
      .parquet(topicDir)
    // C4: decrypt ahead of unpack; undecryptable messages dump as key/value
    // .bin pairs (the reference's ENCRYPTED_MESSAGES/ dir) for later
    // recovery via ReproduceUndecryptableApp — they never fail the run.
    var qEncrypted: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    val wire = decryptKeys.fold(rawWire) { ks =>
      val (ok, dead) = graft.streaming.WireCrypto.splitDecryptedAny(rawWire, ks)
      qEncrypted = Some(dead.writeStream
        .foreach(new graft.streaming.WireCrypto.UndecryptableDumpWriter(
          s"$outDir/_encrypted_messages"))
        .outputMode("append")
        .option("checkpointLocation", s"$outDir/_checkpoint_encrypted")
        .trigger(Trigger.AvailableNow())
        .start())
      ok
    }
    val (good, qBad) = AppSession.decodedWithQuarantine(
      graft.batch.ChunkPipeline.decodeOrDeadLetter(wire), outDir)
    // per-mode checkpoints: buffered (AsmBuf state, foreach sink) and disk
    // mode (DiskState, parquet sink) are schema-incompatible — resuming one
    // mode's checkpoint with the other fails confusingly
    val q =
      if (diskMode)
        graft.streaming.DiskModeAssembly.assemble(good, outDir, timeoutMs = 0)
          .writeStream
          .format("parquet")
          .option("path", s"$outDir/_manifests")
          .option("checkpointLocation", s"$outDir/_checkpoint_download_disk")
          .trigger(Trigger.AvailableNow())
          .start()
      else
        AssemblyStream.assemble(good, timeoutMs = 0)
          .writeStream
          .foreach(new CompletedFileWriter(outDir))
          .outputMode("append")
          .option("checkpointLocation", s"$outDir/_checkpoint_download")
          .trigger(Trigger.AvailableNow())
          .start()
    q.awaitTermination()
    qBad.awaitTermination()
    qEncrypted.foreach(_.awaitTermination())
    spark.stop()
  }
}

/** `StreamProcessorApp <topicDir> <registryDir> [--compact[=targetBytes]]` —
  * G3/G5+K5: consume, reassemble, extract metadata per completed file
  * (size, sha256, mtime), append to a parquet registry table (the
  * reference's CSV registry as a queryable table, SURVEY.md §1.4).
  *
  * The registry lands via [[graft.streaming.IdempotentParquetSink]] (one
  * `batch_id=N` partition per micro-batch, dynamic overwrite) rather than a
  * FileStreamSink: same exactly-once guarantee, but the table stays plain
  * partitioned parquet — no `_spark_metadata` commit log pinning file
  * names — so the shutdown consolidation pass the reference runs
  * (producer_file_registry.py:80-138) is expressible: `--compact` folds
  * the accumulated micro-batch shards into ~targetBytes files after the
  * run, and a later resume appends fresh `batch_id` partitions beside the
  * compacted one. */
object StreamProcessorApp {
  /** The app body, factored for tests: returns after all queries and the
    * optional compaction finish. Does not stop `spark`. */
  def run(spark: SparkSession, topicDir: String, registryDir: String,
      compactTarget: Option[Long] = None): Unit = {
    import spark.implicits._
    // assembly-state observability rides along: per-micro-batch
    // numRowsTotal / updated / removed / bytes land as parquet next to the
    // processing registry, so state growth (the reference's unbounded
    // files_in_progress_by_path) is queryable with the same SQL
    val stateBeats = new graft.streaming.Heartbeats.StateRegistry(
      spark, "stream-processor", s"$registryDir/_state_metrics")
    spark.streams.addListener(stateBeats)
    try {
      val (chunks, qBad) = AppSession.consumeWithQuarantine(spark, topicDir, registryDir)
      val processed = AssemblyStream.assemble(chunks, timeoutMs = 0)
        .map { f =>
          val sha = if (f.data == null) null
            else graft.core.ChunkCodec.digestHex("SHA-256", f.data)
          (f.rel_filepath, f.code, f.n_chunks, f.size, sha, f.file_mtime)
        }
        .toDF("rel_filepath", "status_code", "n_chunks", "size", "sha256", "mtime")
      val q = processed.writeStream
        .foreachBatch(graft.streaming.IdempotentParquetSink.writeBatch(registryDir) _)
        .outputMode("append")
        .option("checkpointLocation", s"$registryDir/_checkpoint_processor")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      qBad.awaitTermination()
    } finally spark.streams.removeListener(stateBeats)
    compactTarget.foreach { t =>
      val (b, a) = graft.batch.Compaction.compactBatchPartitioned(spark, registryDir, t)
      System.err.println(s"[StreamProcessorApp] registry compacted: $b -> $a files")
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "StreamProcessorApp <topicDir> <registryDir> [--compact[=targetBytes]]"
    // --compact doubles as a bool flag (default 128 MiB target) and a
    // value flag; rejectUnknownFlags can't express that union, so check here
    args.filter(_.startsWith("--")).foreach { a =>
      AppSession.require(a == "--compact" || a.startsWith("--compact="), usage)
    }
    val compactTarget: Option[Long] =
      if (args.contains("--compact")) Some(128L * 1024 * 1024)
      else AppSession.flagValue(args, "compact").map(_.toLong)
    val positional = args.filterNot(_.startsWith("--"))
    AppSession.require(positional.length == 2, usage)
    val Array(topicDir, registryDir) = positional: @unchecked
    val spark = AppSession.make("graft-processor")
    run(spark, topicDir, registryDir, compactTarget)
    spark.stop()
  }
}

/** `AnnounceKeyApp <topicDir> <identityDir>` — C4bis consumer bootstrap:
  * load (or create) the durable X25519+Ed25519 identity under `identityDir`
  * and publish a SIGNED announcement on the `<topicDir>.reqs` side topic,
  * so the next `UploadDirectoryApp --key-exchange` run wraps the topic data
  * key for this consumer (party name = identity dir basename; kafkacrypto's
  * subscribe-then-receive-keys bootstrap re-expressed over the offline
  * side-topic stand-in). Prints the identity's Ed25519 fingerprint — the
  * value an operator hands the producer for its `--allow` list. Pure
  * control plane — no SparkSession. */
object AnnounceKeyApp {
  def main(args: Array[String]): Unit = {
    AppSession.require(args.length == 2, "AnnounceKeyApp <topicDir> <identityDir>")
    val Array(topicDir, identityDir) = args: @unchecked
    val party = new java.io.File(identityDir).getName
    val id = graft.streaming.KeyExchange.loadOrCreateIdentity(identityDir)
    graft.streaming.KeyExchange.announce(topicDir, party, id)
    System.err.println(s"[announce] party '$party' announced on $topicDir.reqs")
    System.err.println(s"[announce] fingerprint: ${id.fingerprint}")
  }
}

/** `ProvisionNodeApp <baseDir> <nodeId> [--announce=<topicDir>]` — the
  * reference's provision workflow (tools/provision_wrapper.py:144-183
  * wrapping KafkaCrypto's provision scripts) re-expressed: mint a node
  * identity, seal the private store under the password from
  * `SPARK_GRAFT_PROVISION_PASSWORD`, and lay out the wrapper's exact
  * output contract (`<nodeId>/<nodeId>.{config,seed,crypto}` — see
  * [[graft.streaming.Provision]]). With `--announce`, immediately open
  * the store back (proving the password round-trip) and publish the
  * signed announcement, so provision → announce → `--key-exchange`
  * upload is one command away from a working encrypted pipeline. Pure
  * control plane — no SparkSession. */
object ProvisionNodeApp {
  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    AppSession.require(positional.length == 2,
      "ProvisionNodeApp <baseDir> <nodeId> [--announce=<topicDir>]")
    val Array(baseDir, nodeId) = positional: @unchecked
    val password = sys.env.getOrElse("SPARK_GRAFT_PROVISION_PASSWORD",
      AppSession.fail("set SPARK_GRAFT_PROVISION_PASSWORD (never a CLI arg: " +
        "argv is world-readable in /proc)")).toCharArray
    val dir = graft.streaming.Provision.provision(baseDir, nodeId, password)
    System.err.println(s"[provision] node '$nodeId' provisioned at $dir")
    graft.streaming.Provision.validate(dir.toString) match {
      case Right(id) => System.err.println(s"[provision] layout valid for '$id'")
      case Left(err) => AppSession.fail(s"layout validation failed: $err")
    }
    flags.collectFirst { case f if f.startsWith("--announce=") =>
      f.stripPrefix("--announce=")
    }.foreach { topicDir =>
      val id = graft.streaming.Provision.load(dir.toString, password)
      graft.streaming.KeyExchange.announce(topicDir, nodeId, id)
      System.err.println(s"[provision] announced on $topicDir.reqs")
      System.err.println(s"[provision] fingerprint: ${id.fingerprint}")
    }
  }
}

/** `ReproduceUndecryptableApp <dumpDir> <topicDir>` — S6 recovery tool
  * (reference tools/undecryptable_messages/reproduce_undecryptable_messages
  * .py:15-82): read the key/value `.bin` pairs a prior `--decrypt-key` run
  * dumped under `<outDir>/_encrypted_messages`, and re-produce them to a
  * FRESH topic in mtime order — run once the right key is finally available
  * so a later `DownloadDirectoryApp --decrypt-key=K` pass can consume them.
  *
  * The output topic must NOT be one written by a streaming query: a
  * FileStreamSink topic carries a `_spark_metadata` commit log, and every
  * streaming consumer of such a directory reads ONLY log-committed files —
  * a plain batch append there would be silently invisible, turning the
  * whole recovery into a no-op. The app refuses that footgun. */
object ReproduceUndecryptableApp {
  def main(args: Array[String]): Unit = {
    AppSession.require(args.length == 2,
      "ReproduceUndecryptableApp <dumpDir> <freshTopicDir>")
    val Array(dumpDir, topicDir) = args: @unchecked
    if (new java.io.File(topicDir, "_spark_metadata").exists()) {
      System.err.println(
        s"refusing to append to '$topicDir': it has a _spark_metadata " +
        "FileStreamSink log, so streaming consumers would never see batch-" +
        "appended files. Re-produce into a fresh topic dir and point the " +
        "downstream consumer at it.")
      sys.exit(1)
    }
    val spark = AppSession.make("graft-reproduce-undecryptable")
    // coalesce(1): downstream consumers list topic files in no particular
    // order, so the documented mtime-order replay only survives the write if
    // it lands as ONE sorted file. Dead letters are rare by construction —
    // a single-task write here is the point, not a bottleneck.
    graft.streaming.WireCrypto.reproduceUndecryptable(spark, dumpDir)
      .select("key", "value")
      .coalesce(1)
      .write.mode("append").parquet(topicDir)
    spark.stop()
  }
}

/** `MetadataReproducerApp <topicDir> <outTopicDir>` — G4/G5: consume the
  * chunk topic, reassemble, compute a metadata-JSON result message per
  * completed file, and produce it to a DIFFERENT topic (the reference's
  * `DataFileStreamReproducer` + `MetadataJSONReproducer` pair). Corrupt
  * messages quarantine like the download app. */
object MetadataReproducerApp {
  def main(args: Array[String]): Unit = {
    AppSession.require(args.length == 2,
      "MetadataReproducerApp <topicDir> <outTopicDir>")
    val Array(topicDir, outTopicDir) = args: @unchecked
    val spark = AppSession.make("graft-metadata-reproducer")
    val (good, qBad) = AppSession.consumeWithQuarantine(spark, topicDir, outTopicDir)
    val results = graft.streaming.Reproducer.resultMessages(
      AssemblyStream.assemble(good, timeoutMs = 0))
    val q = results.writeStream
      .format("parquet")
      .option("path", outTopicDir)
      .option("checkpointLocation", s"$outTopicDir/_checkpoint_reproducer")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    qBad.awaitTermination()
    spark.stop()
  }
}

/** `UploadFileApp <file> <topicDir> [chunkSize] [--encrypt-key=K]
  * [--select-bytes=a:b,c:d]` — the reference's single-file console entry
  * `UploadDataFile` (pyproject.toml:23, data_file_io/entity/
  * upload_data_file.py:60-117): chunk ONE file and produce its wire
  * messages to the topic in one batch pass (rel path = the file's
  * basename). `--select-bytes` restricts the upload to half-open byte
  * ranges, compacted to contiguous write offsets (T2, the reference's
  * `select_bytes` argument). Refuses a topic directory written by a
  * streaming query (`_spark_metadata` present): streaming consumers of
  * such a topic read only log-committed files, so a batch append there
  * would be silently invisible. */
object UploadFileApp {
  /** App body, factored for tests. Does not stop `spark`. */
  def run(spark: SparkSession, file: String, topicDir: String,
      chunkSize: Int = graft.core.Chunker.DefaultChunkSize,
      encryptKey: Option[Array[Byte]] = None,
      selectBytes: Seq[(Long, Long)] = Nil): Unit = {
    import spark.implicits._
    val f = new java.io.File(file)
    if (!f.isFile) AppSession.fail(s"not a file: $file")
    if (new java.io.File(topicDir, "_spark_metadata").exists())
      AppSession.fail(s"refusing to append to '$topicDir': it has a " +
        "_spark_metadata FileStreamSink log, so streaming consumers would " +
        "never see batch-appended files — use a fresh topic dir")
    val content = java.nio.file.Files.readAllBytes(f.toPath)
    val chunks = graft.core.Chunker.chunk(f.getName, "", content, chunkSize,
      selectBytes, Some(f.lastModified() / 1000.0)).map(ChunkRow(_))
    val plainWire = graft.batch.ChunkPipeline.encode(
      spark.createDataset(chunks))
    val wire = encryptKey.fold(plainWire)(k =>
      graft.streaming.WireCrypto.encryptValues(plainWire, k))
    // one file -> one sorted parquet part: a multi-task write of a single
    // file's chunks is overhead, not parallelism
    wire.coalesce(1).write.mode("append").parquet(topicDir)
    System.err.println(
      s"[upload-file] ${f.getName}: ${chunks.length} chunks -> $topicDir")
  }

  def main(args: Array[String]): Unit = {
    val usage = "UploadFileApp <file> <topicDir> [chunkSize] " +
      "[--encrypt-key=K] [--select-bytes=a:b,c:d]"
    AppSession.rejectUnknownFlags(args, usage,
      valueFlags = Set("encrypt-key", "select-bytes"))
    val positional = args.filterNot(_.startsWith("--"))
    AppSession.require(positional.length >= 2 && positional.length <= 3, usage)
    val file = positional(0)
    val topicDir = positional(1)
    val chunkSize = positional.drop(2).headOption.map(_.toInt)
      .getOrElse(graft.core.Chunker.DefaultChunkSize)
    val encryptKey = AppSession.flagValue(args, "encrypt-key")
      .map(_.getBytes("UTF-8"))
    val selectBytes: Seq[(Long, Long)] =
      AppSession.flagValue(args, "select-bytes").map {
        _.split(',').filter(_.nonEmpty).toSeq.map { r =>
          r.split(':') match {
            case Array(a, b) => (a.toLong, b.toLong)
            case _ => AppSession.fail(s"bad --select-bytes range '$r' " +
              "(want start:stop)")
          }
        }
      }.getOrElse(Nil)
    val spark = AppSession.make("graft-upload-file")
    run(spark, file, topicDir, chunkSize, encryptKey, selectBytes)
    spark.stop()
  }
}

/** `GirderTransferApp <topicDir> <baseUrl> <registryDir>` — the
  * Girder-upload stream processor (reference
  * `GirderUploadStreamProcessor`, girder/girder_upload_stream_processor
  * .py:28-552; console entry pyproject.toml:30): consume the chunk topic,
  * reassemble, upload each completed file to the REST endpoint with
  * ensure-folder + checksum skip-if-same + bounded retry on 403/429/5xx
  * ([[graft.streaming.RestSink]]), and append one registry row per file
  * (rel_filepath, action, attempts, batch_id) to a parquet table —
  * the same consume→process→registry loop as [[ObjectStoreTransferApp]]
  * with the REST connector as the processor. */
object GirderTransferApp {
  /** App body, factored for tests. Does not stop `spark`. */
  def run(spark: SparkSession, topicDir: String, baseUrl: String,
      registryDir: String): Unit = {
    val (good, qBad) = AppSession.consumeWithQuarantine(spark, topicDir, registryDir)
    val q = AssemblyStream.assemble(good, timeoutMs = 0)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.batch.AssembledFile],
          batchId: Long) =>
        graft.streaming.RestSink.upload(batch, baseUrl)
          .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
          .write.mode("append").parquet(registryDir)
      }
      .outputMode("append")
      .option("checkpointLocation", s"$registryDir/_checkpoint_girder")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    qBad.awaitTermination()
  }

  def main(args: Array[String]): Unit = {
    AppSession.require(args.length == 3,
      "GirderTransferApp <topicDir> <baseUrl> <registryDir>")
    val Array(topicDir, baseUrl, registryDir) = args: @unchecked
    val spark = AppSession.make("graft-girder-transfer")
    run(spark, topicDir, baseUrl, registryDir)
    spark.stop()
  }
}

/** `ObjectStoreTransferApp <topicDir> <baseUri> <topic> <registryDir>` —
  * the S3-transfer processor (reference `S3TransferStreamProcessor`,
  * s3_buckets/s3_transfer_stream_processor.py:12-106): consume the chunk
  * topic, reassemble, put each verified file to the object store at
  * `{baseUri}/{topic}/{rel_filepath}` with read-back digest verification,
  * and append one registry row per object (ok/failed) to a parquet table.
  * `baseUri` is any Hadoop FS URI — file:// here, s3a://bucket in prod. */
object ObjectStoreTransferApp {
  def main(args: Array[String]): Unit = {
    AppSession.require(args.length == 4,
      "ObjectStoreTransferApp <topicDir> <baseUri> <topic> <registryDir>")
    val Array(topicDir, baseUri, topic, registryDir) = args: @unchecked
    val spark = AppSession.make("graft-objectstore-transfer")
    val (good, qBad) = AppSession.consumeWithQuarantine(spark, topicDir, registryDir)
    val q = AssemblyStream.assemble(good, timeoutMs = 0)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.batch.AssembledFile],
          batchId: Long) =>
        graft.streaming.ObjectStoreSink.putVerified(batch, baseUri, topic)
          .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
          .write.mode("append").parquet(registryDir)
      }
      .outputMode("append")
      .option("checkpointLocation", s"$registryDir/_checkpoint_transfer")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    qBad.awaitTermination()
    spark.stop()
  }
}
