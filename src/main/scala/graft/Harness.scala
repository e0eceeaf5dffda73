package graft

/** Shared helpers for the harness mains (Bench / Verify / Prof) — one
  * definition so the three 300-query JVMs keep identical memory behavior
  * and stay comparable.
  */
private[graft] object Harness {

  /** UNTIMED unpersist sweep (round 16): localCheckpoint blocks are
    * per-invocation — nothing references them once a query's action
    * returns — but nothing freed them either, so across 300+ queries ×
    * 3 runs they accumulated in the shared 8 g heap's storage pool and
    * competed with execution memory exactly when 32 tasks run (guide §5
    * "unpersist when done"; the round-15 32-core-only regressions).
    * Blocking so cleanup cannot bleed into the next timed region.
    *
    * The sweep relies on every harness query having drained its streams
    * before it returns: a still-running stream may own a persisted RDD
    * (e.g. `InvertedIndex.appendBatch`'s tf cache) that it would silently
    * recompute. While any stream is active the sweep is skipped, with a
    * note naming the streams. */
  def sweepCheckpoints(spark: org.apache.spark.sql.SparkSession): Unit = {
    val active = spark.streams.active
    if (active.nonEmpty)
      System.err.println("[harness] unpersist sweep skipped: streams still active: " +
        active.map(q => Option(q.name).getOrElse(q.id.toString)).mkString(", "))
    else
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
  }

  /** The sweep frees checkpointed RDDs whose lineage is gone; Spark WARNs
    * once per such RDD that it "cannot be recomputed after unpersisting"
    * — true, intended, and noise at 300+ queries. A configuration-wide
    * regex filter drops exactly that message and leaves every other
    * warning, from any logger, as it was. Call it after the session
    * exists: Spark's first log call may reload the log4j configuration. */
  def silenceSweepWarn(): Unit = {
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.addFilter(org.apache.logging.log4j.core.filter.RegexFilter
      .createFilter(".*cannot be recomputed after unpersisting.*", null, false,
        Filter.Result.DENY, Filter.Result.NEUTRAL))
    ctx.updateLoggers()
  }
}
