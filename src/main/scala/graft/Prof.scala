package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.app.AppSession

/** Ad-hoc phase profiler for optimization rounds: runs each named query
  * N times (SPARK_GRAFT_PROF_N, default 3) against SPARK_GRAFT_SF_DIR under
  * the bench's session config, printing every run's wall time (not just the
  * median) plus its stage and task counts and total shuffle WRITE bytes and
  * records — the round-15 tool for separating first-run fixture/JIT cost
  * from steady-state cost, and the number the 100 TB design notes in
  * SCALE.md quote when a plan claims a narrower exchange. Each run executes
  * fully through the noop sink, so Catalyst cannot prune the columns an
  * exchange carries.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = AppSession.positiveSetting("SPARK_GRAFT_PROF_N", 3).fold(AppSession.fail, identity)
    val spark = Harness.session("graft-prof")
    // atomics, not '+=' on @volatile (ADVICE r15): the listener bus
    // delivers on its own thread, and read-modify-write on a volatile can
    // lose increments against it
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shuffleBytes = new AtomicLong(0)
    val shuffleRecords = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics
        stages.incrementAndGet(); tasks.addAndGet(sc.stageInfo.numTasks)
        shuffleBytes.addAndGet(w.bytesWritten); shuffleRecords.addAndGet(w.recordsWritten)
      }
    })
    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          (1 to runs).foreach { i =>
            stages.set(0); tasks.set(0); shuffleBytes.set(0); shuffleRecords.set(0)
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
            val dt = (System.nanoTime() - t0) / 1e9
            // listener events are async (the bus drain API is private) —
            // a short settle is fine for a diagnostic tool
            Thread.sleep(300)
            println(f"[prof] $name run$i $dt%.2f s  stages=$stages tasks=$tasks " +
              s"shuffleWrite=$shuffleBytes bytes $shuffleRecords records")
          }
        case None => System.err.println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
