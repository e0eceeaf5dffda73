package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark session a spec runs on. `Test / fork` runs every spec in one
  * JVM, so there is one session, built once with one config: four task
  * slots, four shuffle partitions, UTC, and the app session's
  * [[graft.app.AppSession.StaticSettings]] (the codegen cache is sized
  * once per JVM, so its size must come from the first session that
  * generates code). A spec that changes a SQL conf
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
    .config(graft.app.AppSession.StaticSettings.toMap)
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

  /** The jobs that start on `spark` while `body` runs and that `counts`
    * accepts. A marker job posted after `body` is the last the listener
    * sees, so once it has arrived every earlier job has been counted. */
  def jobsDuring(spark: SparkSession, counts: SparkListenerJobStart => Boolean = _ => true)(
      body: => Unit): Int = {
    val jobs = new AtomicInteger
    val marker = s"local-spark-drained-${System.nanoTime}"
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (description(e) == marker) drained.countDown()
        else if (counts(e)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setJobDescription(null)
      assert(drained.await(60, TimeUnit.SECONDS), "the listener never saw the marker job")
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A job's description, or "" when it has none. */
  def description(e: SparkListenerJobStart): String =
    Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse("")

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
