package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.VectorFunctions

/** Incremental IVF (vector) index maintenance — [[InvertedIndex]]'s twin
  * for the similarity-search modality: new embeddings are assigned to
  * their nearest coarse centroid AT ARRIVAL (the native
  * [[graft.functions.NearestCentroid]] fold — a zero-shuffle in-row
  * argmin over the kilobyte centroid model) and land as per-batch
  * segments via [[IdempotentParquetSink]]; a search probes the merged
  * lists. The centroid model is FIXED between retrains (the production
  * IVF posture: Lloyd's — x63 — trains it offline; reassignments happen
  * at retrain, not at ingest), so arrival cost is one scan of the new
  * batch and the stored corpus is never rewritten or re-clustered.
  *
  * Search shape at 100 TB: the probe list prunes to nprobe inverted
  * lists; segments are partitioned `batch_id/cid` on disk so the probe
  * filter is DIRECTORY pruning, the exact-rerank scan touches only the
  * probed lists, and the top-k is one TakeOrdered. Replay safety is the
  * sink's: a re-delivered micro-batch replaces its own segment. */
object VectorIndex {

  /** Segment root of one model GENERATION: `<indexDir>/gen=G/batch_id=N/
    * cid=C`. Each era of segments is assigned under exactly one centroid
    * model and lives under that generation's root; serving resolves the
    * root through the newest PUBLISHED model ([[currentGen]]), which
    * makes the model write the atomic COMMIT POINT of a retrain — a
    * reader can never see new-model segments under an old model or a
    * half-swapped directory (the round-10 handoff gap). SCHEMA NOTE:
    * indexes written by the pre-generation layout (segments at the top
    * level) don't read under this one — rebuild or re-land them (no
    * released on-disk format yet; same stance as InvertedIndex's
    * chunk_id note). */
  def genRoot(indexDir: String, gen: Long): String =
    new org.apache.hadoop.fs.Path(indexDir, s"gen=$gen").toString

  /** The generation serving reads: the newest PUBLISHED model's, or 0
    * for an index that has never persisted one (the anonymous pre-model
    * era [[appendBatch]] writes by default). */
  def currentGen(spark: SparkSession, indexDir: String): Long =
    loadModel(spark, indexDir).map(_._1).getOrElse(0L)

  /** Assign one batch `(vec_id, embedding)` to the coarse model →
    * segment rows `(cid, vec_id, embedding)`. Assignment arithmetic is
    * the x04/x110s one (double accumulation in index order, ties to the
    * smallest centroid id), so index-served search can hash-match the
    * ad-hoc IVF oracle. */
  def segment(vectors: DataFrame, cids: Array[Long],
      centroids: Array[Array[Float]]): DataFrame =
    vectors.select(
      VectorFunctions.nearestCentroid(col("embedding"), cids, centroids)
        .as("cid"),
      col("vec_id"), col("embedding"))

  /** foreachBatch hook: assign + land replay-safe under generation
    * `gen`'s root, `batch_id/cid` partitioned (probe filters prune
    * directories). `gen` names the model era the caller's
    * cids/centroids came from ([[currentGen]] for a maintained index;
    * the default 0 is the pre-model era). */
  def appendBatch(indexDir: String, cids: Array[Long],
      centroids: Array[Array[Float]], gen: Long = 0L)(
      batch: DataFrame, batchId: Long): Unit =
    IdempotentParquetSink.writeBatch(genRoot(indexDir, gen), "cid")(
      segment(batch, cids, centroids), batchId)

  /** Maintain the index from a streaming `(vec_id, embedding)` source. */
  def maintain(vectors: DataFrame, indexDir: String, checkpoint: String,
      cids: Array[Long], centroids: Array[Array[Float]],
      gen: Long = 0L): StreamingQuery =
    IdempotentParquetSink.maintain(vectors, checkpoint)(
      appendBatch(indexDir, cids, centroids, gen))

  /** The merged index of the CURRENT generation: `(cid, vec_id,
    * embedding)` over its segments. An unpublished newer era (a retrain
    * that failed before its model landed) is invisible here — readers
    * keep serving the old generation until the publish completes. */
  def read(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(genRoot(indexDir, currentGen(spark, indexDir)))
      .select("cid", "vec_id", "embedding")

  /** IVF search over an index frame: prune to the probed inverted lists,
    * exact cosine against `query`, top-k (ties to the smaller vec_id).
    * `probes` is the query's nprobe nearest centroids — computed on the
    * kilobyte model, not the corpus. */
  def search(index: DataFrame, query: Array[Float], probes: Seq[Long],
      k: Int): DataFrame = {
    val qv: Column = typedlit(query)
    def dot(a: Column, b: Column): Column = VectorFunctions.vecDot(a, b)
    def norm(a: Column): Column = VectorFunctions.vecNorm(a)
    index
      .where(col("cid").isin(probes: _*))
      .withColumn("sim",
        round(dot(col("embedding"), qv) / (norm(col("embedding")) * norm(qv)), 6))
      .select("vec_id", "sim")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Segment compaction: [[IdempotentParquetSink.fold]] the current
    * generation's root to one `batch_id=-1` partition, PRESERVING the `cid`
    * sub-partitioning so probe filters keep their directory pruning.
    * Vectors don't merge (unlike postings), so this is purely the
    * small-files pass: O(batches·cids) directories fold to O(cids). Safe
    * only between runs of the owning query. Returns
    * (batchPartitionsBefore, batchPartitionsAfter). */
  def compact(spark: SparkSession, indexDir: String): (Int, Int) =
    IdempotentParquetSink.fold(spark, genRoot(indexDir, currentGen(spark, indexDir)),
      "cid")(identity)

  // ------------------------------------------------- model generations

  /** Persist a centroid model generation: rows `(cid, centroid)` under
    * `<indexDir>/_model/gen=N`. One directory per retrain — an audit
    * trail of WHAT partitioning each era of segments was written under,
    * and the anchor [[loadModel]] resumes from. Published ATOMICALLY
    * (written to a tmp dir, renamed into place): this write is the
    * COMMIT POINT of a retrain, so a reader listing generations must
    * never resolve a half-written one. */
  def saveModel(spark: SparkSession, indexDir: String, gen: Long,
      cids: Array[Long], centroids: Array[Array[Float]]): Unit = {
    import spark.implicits._
    val base = new org.apache.hadoop.fs.Path(indexDir, "_model")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(indexDir, "_model_tmp")
    fs.delete(tmp, true)
    cids.zip(centroids).toSeq.toDF("cid", "centroid")
      .coalesce(1)
      .write.parquet(tmp.toString)
    fs.mkdirs(base)
    // an existing gen=N is a torn earlier publish: the swap replaces it
    IdempotentParquetSink.swap(fs, tmp, new org.apache.hadoop.fs.Path(base, s"gen=$gen"))
  }

  /** The newest persisted model: (generation, cids, centroids), or None
    * for an index that has never saved one. */
  def loadModel(spark: SparkSession, indexDir: String):
      Option[(Long, Array[Long], Array[Array[Float]])] = {
    val base = new org.apache.hadoop.fs.Path(s"$indexDir/_model")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return None
    val gens = fs.listStatus(base)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
      .map(_.getPath.getName.stripPrefix("gen=").toLong)
    if (gens.isEmpty) return None
    val gen = gens.max
    val rows = spark.read.parquet(s"$indexDir/_model/gen=$gen")
      .select("cid", "centroid").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    Some((gen, rows.map(_._1), rows.map(_._2)))
  }

  /** Mean squared distance of the stored corpus to its nearest centroid
    * under `model` — the drift signal that decides WHEN to retrain:
    * record it at retrain time, and when fresh arrivals push it well
    * above that baseline the partitioning no longer matches the data.
    * One corpus scan, all math in-row (argmin via the native expression,
    * the distance via an in-row fold against the broadcast kilobyte
    * model); the exchange is one scalar avg. */
  def assignmentDrift(spark: SparkSession, indexDir: String,
      cids: Array[Long], centroids: Array[Array[Float]]): Double = {
    import spark.implicits._
    val model = cids.zip(centroids).toSeq.toDF("mcid", "centroid")
    read(spark, indexDir)
      .select(col("vec_id"), col("embedding"),
        VectorFunctions.nearestCentroid(col("embedding"), cids, centroids)
          .as("mcid"))
      .join(broadcast(model), "mcid")
      .select(expr("aggregate(zip_with(embedding, centroid," +
        " (a, b) -> (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))" +
        " * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))), 0D," +
        " (acc, v) -> acc + v)").as("d2"))
      .agg(avg("d2")).first().getDouble(0)
  }

  /** Lloyd's retrain over the STORED corpus (x63's iteration composed
    * into the index): `iters` rounds of assign (native in-row argmin) →
    * per-cluster mean (k×dims scalar aggregates, map-side combining; the
    * model collect is kilobytes), starting from the newest persisted
    * model — or, for a model-less index, from the `k` vectors with the
    * smallest vec_ids (x04's deterministic seed convention). Empty
    * clusters keep their previous centroid. Then the whole corpus is
    * REWRITTEN under the new model as generation N+1's root (one
    * `batch_id=-1` partition, cid-subpartitioned so probe pruning stays
    * directory pruning) and the model publish COMMITS the handoff:
    *
    *  1. reassigned segments land in `_retrain_tmp` (invisible);
    *  2. ONE atomic rename makes them `gen=N+1/` — still unreachable,
    *     because readers resolve the root through the newest model;
    *  3. `saveModel(N+1)` publishes — the first instant a reader sees
    *     the new era, complete, under its own model;
    *  4. older era roots are deleted (pure cleanup of unreachable data).
    *
    * A crash anywhere before 3 leaves readers serving generation N
    * intact (VectorIndexHandoffSpec injects exactly that state); a
    * re-run deletes the torn `gen=N+1` and redoes it. The old ERA is
    * never touched until the new one is fully published. Concurrent
    * APPENDS during a retrain remain out of contract (same as compact:
    * between runs of the owning query). Returns (newGen, cids,
    * centroids).
    *
    * Reference anchor: the reference re-provisions consumer groups
    * rather than re-clustering (no vector index there); the
    * tmp-then-publish walk is its registry consolidate-on-rotation. */
  def retrain(spark: SparkSession, indexDir: String, k: Int,
      iters: Int): (Long, Array[Long], Array[Array[Float]]) = {
    val vectors = read(spark, indexDir).select("vec_id", "embedding")
    val prior = loadModel(spark, indexDir)
    val (newGen, cids, init) = prior match {
      case Some((g, ids, cvs)) =>
        // a silent k override would be a no-op the caller can't see;
        // changing cluster count is a different operation (reseed)
        require(ids.length == k,
          s"retrain: index has a k=${ids.length} model (gen $g); " +
            s"requested k=$k — delete _model/ to reseed with a new k")
        (g + 1, ids, cvs)
      case None =>
        val seeds = vectors.orderBy("vec_id").limit(k)
          .select("embedding").collect()
          .map(_.getSeq[Float](0).toArray)
        require(seeds.length == k,
          s"retrain: corpus has ${seeds.length} vectors, need k=$k seeds")
        // the pre-model corpus IS generation 0 (its root), so the first
        // published model is generation 1
        (1L, Array.tabulate(k)(_.toLong), seeds)
    }
    val dim = init(0).length
    var cur = init
    for (_ <- 1 to iters) {
      val assigned = vectors.withColumn("cid",
        VectorFunctions.nearestCentroid(col("embedding"), cids, cur))
      val dims = (0 until dim).map(i =>
        avg(element_at(col("embedding"), i + 1).cast("double")).as(s"m$i"))
      val byCid = assigned.groupBy("cid").agg(dims.head, dims.tail: _*)
        .collect()
        .map(r => r.getLong(0) ->
          Array.tabulate(dim)(i => r.getDouble(i + 1).toFloat)).toMap
      cur = cids.zipWithIndex.map { case (c, j) => byCid.getOrElse(c, cur(j)) }
    }
    val path = new org.apache.hadoop.fs.Path(indexDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // 1. reassigned corpus to tmp (invisible to every reader)
    val tmp = new org.apache.hadoop.fs.Path(path, "_retrain_tmp")
    fs.delete(tmp, true)
    segment(vectors, cids, cur)
      .withColumn("batch_id", lit(-1L))
      .write.partitionBy("batch_id", "cid").parquet(tmp.toString)
    // 2. one swap → the new era root (still unreachable: no model yet).
    // A torn earlier attempt left an unpublished root here — it is replaced.
    IdempotentParquetSink.swap(fs, tmp,
      new org.apache.hadoop.fs.Path(genRoot(indexDir, newGen)))
    // 3. PUBLISH: from here readers resolve the new era
    saveModel(spark, indexDir, newGen, cids, cur)
    // 4. cleanup: every other era root is now unreachable
    fs.listStatus(path)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen=") &&
        s.getPath.getName != s"gen=$newGen")
      .foreach(p => fs.delete(p.getPath, true))
    (newGen, cids, cur)
  }

  /** The query's probe list: nearest `nprobe` centroids by the same
    * argmin arithmetic, computed model-side (no data touched). */
  def probeList(query: Array[Float], cids: Array[Long],
      centroids: Array[Array[Float]], nprobe: Int): Seq[Long] =
    cids.zip(centroids).map { case (cid, cv) =>
      var s = 0.0
      var i = 0
      val m = math.min(query.length, cv.length)
      while (i < m) {
        val d = query(i).toDouble - cv(i).toDouble
        s += d * d
        i += 1
      }
      (s, cid)
    }.sortBy(identity).take(nprobe).map(_._2).toSeq
}
