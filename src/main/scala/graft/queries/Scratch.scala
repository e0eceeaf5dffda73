package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame

import graft.Harness

/** The one owner of the directories registry queries write: per-run sinks
  * and indexes ([[scratch]]) and build-once fixtures ([[fixture]]). All of
  * them live under one root per JVM, created on first use under
  * `java.io.tmpdir` and deleted with everything under it by one shutdown
  * hook. A query's DataFrame may read its directory lazily after `run`
  * returns, so nothing under the root is deleted before the JVM exits.
  */
object Scratch {

  /** The root, while it exists; guarded by `this`. */
  private var current: Option[Path] = None

  /** Fixtures by (name, test-data directory). */
  private val fixtures = new ConcurrentHashMap[(String, String), Fixture]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => cleanup(), "graft-scratch-cleanup"))

  private[graft] def root: Path = synchronized {
    current.getOrElse {
      val r = Files.createTempDirectory("graft_scratch")
      current = Some(r)
      r
    }
  }

  /** What the shutdown hook runs: deletes the root and forgets every
    * fixture, so a later use starts a fresh root. */
  private[graft] def cleanup(): Unit = synchronized {
    fixtures.clear()
    current.foreach(Harness.rmTree)
    current = None
  }

  /** A fresh, empty directory under the root, its name starting `name`. */
  def scratch(name: String): String =
    Files.createTempDirectory(root, name).toString

  /** One build of a fixture directory: the lazy value runs `build` outside
    * the map's lock, so two fixtures never wait on each other, and a build
    * that throws leaves it unset and is retried on the next call. */
  private final class Fixture(name: String, build: String => Unit) {
    lazy val dir: String = {
      val d = scratch(name)
      build(d)
      d
    }
  }

  /** The directory `build` fills once per JVM and test-data directory
    * `sfDir`. A fixture is setup, not the operator under test:
    * [[graft.Bench]] builds it in its untimed setup phase
    * ([[Dataflow.fixtureSetups]]), and any other caller builds it on first
    * use. */
  def fixture(name: String, sfDir: String)(build: String => Unit): String =
    fixtures.computeIfAbsent((name, sfDir), _ => new Fixture(name, build)).dir

  /** Writes the files `files(id)` (name, bytes) of each document id in the
    * one-column `ids` into `dir`, on the executors, after spreading the ids
    * over every core. */
  def writeDocs(ids: DataFrame, dir: String)(files: Long => Seq[(String, Array[Byte])]): Unit = {
    import ids.sparkSession.implicits._
    Core.spread(ids).as[Long].foreachPartition { (it: Iterator[Long]) =>
      it.foreach(id => files(id).foreach { case (name, bytes) =>
        Files.write(Paths.get(dir, name), bytes)
      })
    }
  }
}
