package graft.tools

import org.apache.spark.scheduler._
import graft.GraftSession
import scala.collection.mutable

/** Per-query job/stage profiler — the guide-§1 "empirical" loop
  * without the UI (headless sandbox). For each named declared query:
  * one warmup run at sf0.001, then a timed run at $SPARK_GRAFT_SF_DIR
  * through the noop sink, with a listener recording every job's wall
  * time, stage count, task count and summed executor run time.
  * Driver-side gaps (planning, collect, checkpoint bookkeeping) fall
  * out as `wall - sum(job walls)`.
  *
  * Usage: tools/spark-run.sh graft.tools.ProfileQ x141_planned_minhash ...
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.applyEnvConfs(spark)

    case class JobRec(id: Int, var start: Long = 0L, var end: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, var taskTimeMs: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val r = JobRec(e.jobId, e.time)
        r.stages = e.stageIds.size
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        jobs.synchronized { jobs(e.jobId) = r }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          stageToJob.get(e.stageId).flatMap(jobs.get).foreach { r =>
            r.tasks += 1
            if (e.taskMetrics != null)
              r.taskTimeMs += e.taskMetrics.executorRunTime
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "1").toInt
    val detail = sys.env.getOrElse("SPARK_GRAFT_PROFILE_DETAIL", "true")
      .toBoolean
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warmup: codegen/JIT on the small SF
      try fn(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      val walls = (1 to reps).map { _ =>
        spark.sqlContext.clearCache(); System.gc()
        jobs.synchronized { jobs.clear(); stageToJob.clear() }
        val t0 = System.nanoTime()
        fn(spark, sf).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val wall = walls.min
      Thread.sleep(200) // let listener events drain
      val js = jobs.synchronized { jobs.values.toSeq.sortBy(_.id) }
      val jobWall = js.map(j => (j.end - j.start).max(0L)).sum / 1e3
      println(f"===== $name%s  best=$wall%.3f s  (of ${walls.map(w => f"$w%.2f").mkString("/")}%s)" +
        f"  jobs=${js.size}%d  sum(jobWall)=$jobWall%.3f s" +
        f"  driverGap=${walls.last - jobWall}%.3f s")
      if (detail) js.foreach { j =>
        println(f"  job ${j.id}%4d  wall=${(j.end - j.start) / 1e3}%7.3f s" +
          f"  stages=${j.stages}%3d  tasks=${j.tasks}%5d" +
          f"  taskTime=${j.taskTimeMs / 1e3}%8.3f s")
      }
    }
    spark.stop()
  }
}
