package graft

import graft.util.Metrics

/** Generic interleaved-rep query timer (dev tool, not a driver
  * artifact): `runMain graft.QTimer <reps> <query...>` runs the named
  * declared queries round-robin in ONE JVM under the Bench session
  * config and prints per-query medians. Interleaving is the
  * BASELINE.md triage protocol: cross-run totals on this box swing
  * ±20-27% with contention, so only same-JVM alternating reps support
  * a per-query claim.
  *
  * Then, as a headless stand-in for the (disabled) UI's Jobs page, it
  * prints every Spark job of each query's last rep — wall, task count,
  * task-run sum and description — and the seconds those jobs cover
  * against the rep's wall, so a multi-job query's cost decomposes. */
object QTimer {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.util.Config.sfDir
    val reps = args.headOption.map(_.toInt).getOrElse(5)
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "usage: QTimer <reps> <query...>")
    val spark = graft.util.Session()
    def run(n: String): Unit = SparkEntry.all(n).fn(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    // warm pass: JIT/codegen + the persisted family lineages, so rep 1
    // measures the query, not the pipeline rebuild (Bench protocol)
    names.foreach(run)
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val lastJobs = scala.collection.mutable.Map[String, Seq[Metrics.Job]]()
    for (_ <- 1 to reps; n <- names) {
      // the listener-bus drain runs after the timed span
      val (wall, jobs) = Metrics.jobsDuring(spark) {
        val t0 = System.nanoTime()
        run(n)
        (System.nanoTime() - t0) / 1e9
      }
      times(n) :+= wall
      lastJobs(n) = jobs
    }
    names.foreach { n =>
      val s = times(n).sorted
      println(f"[qtimer] $n%-24s median ${s(s.size / 2)}%.3f s  " +
        s.map(t => f"$t%.2f").mkString("[", " ", "]"))
    }
    names.foreach { n =>
      val (wall, jobs) = (times(n).last, lastJobs(n))
      println(f"\n== $n  last rep wall ${wall}%.3f s  jobs ${jobs.size}")
      def secs(j: Metrics.Job) = if (j.endMs >= 0) (j.endMs - j.startMs) / 1e3 else -1.0
      jobs.foreach(j => println(f"  job ${j.id}%4d  ${secs(j)}%7.3f s  tasks ${j.tasks}%4d  " +
        f"taskSum ${j.taskRunMs / 1e3}%8.3f s  ${j.description.take(70)}"))
      val covered = jobs.map(secs).filter(_ > 0).sum
      println(f"  [job-covered ${covered}%.3f s of ${wall}%.3f s wall]")
    }
    spark.stop()
  }
}
