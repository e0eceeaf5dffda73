package graft

import org.apache.spark.sql.SparkSession

/** The Spark session a spec runs on. `Test / fork` runs every spec in one
  * JVM, so there is one session, built once with one config: four task
  * slots, four shuffle partitions, UTC. A spec that changes a SQL conf
  * scopes the change with [[LocalSpark.withConf]]; a spec that needs its
  * own session builds it inside [[LocalSpark.isolated]]. */
trait LocalSpark {
  lazy val spark: SparkSession = LocalSpark.session
}

object LocalSpark {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` with the SQL confs `kvs` set on the shared session, then
    * puts back the values they had. */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val before = kvs.map { case (k, _) => k -> session.conf.getOption(k) }
    kvs.foreach { case (k, v) => session.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => session.conf.set(k, v)
      case (k, None) => session.conf.unset(k)
    }
  }

  /** Runs `body` on a session of its own that `open` builds on the shared
    * SparkContext, then hands the active and default session back to the
    * shared one, so nothing the private session installs (extensions, SQL
    * confs) reaches a later spec. */
  def isolated[A](open: => SparkSession)(body: SparkSession => A): A = {
    val shared = session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(open)
    finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }
}
