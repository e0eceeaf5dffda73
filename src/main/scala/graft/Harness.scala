package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.app.AppSession

/** Shared helpers for the harness mains (Bench / Verify / Prof / Explain)
  * and the streaming benchmarks — one definition so the 300-query JVMs
  * keep identical session config and memory behavior and stay comparable.
  */
private[graft] object Harness {

  /** The session of the 300-query mains: the app session
    * ([[AppSession.make]]) with one log filter. WindowExec's "No
    * Partition Defined" WARN is a false positive for the two-pass
    * globalRank/globalCumSum offsets frame (a window over per-partition
    * totals — the design that AVOIDS the whole-data funnel the WARN is
    * about, batch/Joins.scala); a literal PARTITION BY cannot silence it
    * (EliminateWindowPartitions folds it away). */
  def session(name: String): SparkSession = {
    val spark = AppSession.make(name)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Deletes `p` and everything under it, if it exists. */
  def rmTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(q => Files.deleteIfExists(q))

  /** Writes a main's one-line JSON to `path` as a bare line; a failed write
    * is reported on stderr under `tag` and does not fail the run. */
  def writeLatest(tag: String, path: String, json: String): Unit =
    try Files.write(Paths.get(path),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception => System.err.println(s"[$tag] write $path: ${e.getMessage}") }
}
