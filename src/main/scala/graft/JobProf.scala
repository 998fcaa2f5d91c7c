package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (guide §1.1 empirical loop, headless stand-in for the UI's
  * Jobs page): run the named queries once warm, then once instrumented,
  * printing every Spark job the run launched — wall time, task count,
  * task-time sum and the job group/description — so a multi-job query's
  * cost decomposes without the (disabled) UI.
  *
  * Usage: runMain graft.JobProf <query...>
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.util.Config.sfDir
    val names = args.toSeq
    require(names.nonEmpty, "usage: JobProf <query...>")
    val spark = graft.util.Session()

    final case class JobRec(id: Int, desc: String, start: Long,
        var end: Long = -1L, var nTasks: Int = 0, var taskMs: Long = 0L)
    val jobs = new scala.collection.mutable.LinkedHashMap[Int, JobRec]()
    // single concurrent map, written and read on the listener-bus thread
    // (ADVICE r13: the former two-monitor split — stageToJob under its
    // own lock, read under jobs' — had no mutual visibility guarantee)
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var capture = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (capture) {
          j.stageIds.foreach(sid => stageToJob.put(sid, j.jobId): Unit)
          jobs.synchronized {
            val d = Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("")
            jobs(j.jobId) = JobRec(j.jobId, d, j.time)
          }
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (capture) jobs.synchronized {
          jobs.get(j.jobId).foreach(_.end = j.time)
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (capture) {
          // attribute the stage to the job that launched it via the
          // stage->job index built from job starts
          val sid = s.stageInfo.stageId
          Option(stageToJob.get(sid)).foreach { jid =>
            jobs.synchronized {
              jobs.get(jid).foreach { r =>
                r.nTasks += s.stageInfo.numTasks
                r.taskMs += s.stageInfo.taskMetrics.executorRunTime
              }
            }
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { n =>
      // warm (codegen + memoized lineages), uninstrumented
      SparkEntry.all(n).fn(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      jobs.clear(); stageToJob.clear()
      capture = true
      val t0 = System.nanoTime()
      SparkEntry.all(n).fn(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      capture = false
      Thread.sleep(300) // let the listener bus drain the last job-end
      println(f"\n━━ $n  wall ${wall}%.3f s  jobs ${jobs.size}")
      var covered = 0.0
      jobs.values.toSeq.sortBy(_.start).foreach { r =>
        val dur = if (r.end > 0) (r.end - r.start) / 1e3 else -1.0
        if (dur > 0) covered += dur
        println(f"  job ${r.id}%4d  ${dur}%7.3f s  tasks ${r.nTasks}%4d  " +
          f"taskSum ${r.taskMs / 1e3}%8.3f s  ${r.desc.take(70)}")
      }
      println(f"  [job-covered ${covered}%.3f s of ${wall}%.3f s wall]")
    }
    spark.stop()
  }
}
