package graft.util

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Observability surface, and the engine's one listener. Per session, a
  * QueryExecutionListener records, per completed action, the wall
  * duration and the executed plan's headline metrics (output rows of
  * the topmost node that counts them, files/bytes read summed over
  * parquet scans) into a bounded in-memory ring. `report` hands the
  * captures back as a DataFrame so dashboards/tests consume them with
  * the same API as everything else. Per SparkContext, a SparkListener
  * records the jobs [[jobsDuring]] tags: wall, tasks and executor run
  * time, with each stage attributed to the job that launched it.
  *
  * This is the single-process analog of a metrics sink: at production
  * scale the same listener forwards to the metrics system instead of a
  * ring buffer — the capture points (listener + plan metrics) are the
  * Spark-native ones either way, with zero per-row overhead (metrics
  * are collected by the executors as SQLMetrics regardless; reading
  * them after completion costs nothing extra).
  *
  * Registration: [[Session]] calls `Metrics.install(spark)` (idempotent
  * per session) for every tool main and the test session. */
object Metrics {

  final case class Capture(action: String, durationMs: Long, outputRows: Long,
      filesRead: Long, bytesRead: Long, error: Option[String])

  /** One Spark job: wall from start to end event (`endMs` is -1 if the
    * end never arrived), and the task count and executor run time of
    * the stages it ran. `description` is `spark.job.description` when
    * set, else the RDD operation scopes of the job's last stage, topmost
    * first, then `[shuffle map]` or `[result]` for that stage's kind. */
  final case class Job(id: Int, description: String, startMs: Long,
      endMs: Long, tasks: Int, taskRunMs: Long)

  /** The local property [[jobsDuring]] sets; the jobs an action submits
    * inherit it, including those of broadcasts and adaptive query stages
    * run from other threads. */
  private val TagKey = "graft.metrics.tag"

  /** A session's listener. Its ring is bounded — a listener that grows
    * without bound is a driver leak; 4096 captures ≈ hours of
    * interactive use. It shares its context's job listener and never
    * holds the session (see [[listeners]]). */
  private final class Listener(val jobs: JobListener)
      extends QueryExecutionListener {
    val ring = new java.util.ArrayDeque[Capture]()
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      record(funcName, qe, durationNs, None)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit =
      record(funcName, qe, 0L, Some(exception.toString.take(200)))

    private def record(funcName: String, qe: QueryExecution,
                       durationNs: Long, err: Option[String]): Unit = {
      // AdaptiveSparkPlanExec hides the current physical plan from
      // child traversal, and a materialized AQE stage is a leaf whose
      // real subplan hangs off `plan` — unwrap both (at any nesting
      // depth), or every scan under a shuffle boundary goes uncounted
      def below(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case n => n.children
      }
      // the root is often a WholeStageCodegenExec (whose only metric is
      // pipelineTime), an InputAdapter or an adaptive wrapper: take the
      // first node from the root down that counts its output rows
      def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows")
        .map(_.value).orElse(below(p).iterator.flatMap(rows).nextOption())
      def sum(p: SparkPlan, metric: String): Long =
        p.metrics.get(metric).fold(0L)(_.value) +
          (below(p) ++ p.subqueries).map(sum(_, metric)).sum
      val plan = qe.executedPlan
      val c = Capture(funcName, durationNs / 1000000L, rows(plan).getOrElse(-1L),
        sum(plan, "numFiles"), sum(plan, "filesSize"), err)
      ring.synchronized {
        if (ring.size >= 4096) ring.removeFirst()
        ring.addLast(c)
      }
    }
  }

  /** Records tagged jobs only; every callback runs on the listener-bus
    * thread, and [[take]] reads after the bus is drained. */
  private final class JobListener extends SparkListener {
    private final class Rec(val tag: String, val id: Int, val desc: String,
        val start: Long, var end: Long = -1L, var tasks: Int = 0,
        var taskRunMs: Long = 0L)
    private val recs = scala.collection.mutable.LinkedHashMap[Int, Rec]()
    private val stageToJob = scala.collection.mutable.HashMap[Int, Int]()

    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach {
        tag => synchronized {
          j.stageIds.foreach(stageToJob(_) = j.jobId)
          recs(j.jobId) = new Rec(tag, j.jobId,
            Option(j.properties.getProperty("spark.job.description"))
              .getOrElse(lastStageScopes(j)), j.time)
        }
      }
    // no description set: name the job by the operators its last stage
    // runs and by whether that stage feeds a shuffle — a range exchange's
    // sampling job and its shuffle-map job share the operators
    private def lastStageScopes(j: SparkListenerJobStart): String =
      j.stageInfos.maxByOption(_.stageId).fold("") { s =>
        Shim.scopeNames(s).mkString(", ") +
          (if (Shim.isShuffleMap(s)) " [shuffle map]" else " [result]")
      }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      synchronized(recs.get(j.jobId).foreach(_.end = j.time))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        val info = s.stageInfo
        stageToJob.get(info.stageId).flatMap(recs.get).foreach { r =>
          r.tasks += info.numTasks
          Option(info.taskMetrics).foreach(r.taskRunMs += _.executorRunTime)
        }
      }

    /** The jobs that carried `tag`, in start order; drops them. */
    def take(tag: String): Seq[Job] = synchronized {
      val mine = recs.values.filter(_.tag == tag).toSeq
      recs --= mine.map(_.id)
      stageToJob.filterInPlace((_, job) => recs.contains(job))
      mine.map(r => Job(r.id, r.desc, r.start, r.end, r.tasks, r.taskRunMs))
    }
  }

  /** Listener per session, weak-keyed: a session-cycling process
    * (notebook kernels, test harnesses, long-lived services creating
    * short-lived sessions) must not keep a ring per dead session. A
    * value that held its session would pin its own weak key (the
    * classic WeakHashMap self-reference pitfall). */
  private val listeners = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Listener]())

  /** Idempotent install — one QueryExecutionListener per session, one
    * job listener per SparkContext. */
  def install(spark: SparkSession): Unit = listener(spark): Unit

  private def listener(spark: SparkSession): Listener = listeners.synchronized {
    Option(listeners.get(spark)).getOrElse {
      val sc = spark.sparkContext
      val jobs = listeners.asScala
        .collectFirst { case (s, l) if s.sparkContext eq sc => l.jobs }
        .getOrElse { val j = new JobListener; sc.addSparkListener(j); j }
      val l = new Listener(jobs)
      listeners.put(spark, l)
      spark.listenerManager.register(l)
      l
    }
  }

  /** `f`'s result and the Spark jobs it ran, in start order. `f` runs
    * under a fresh tag (the previous one is restored afterwards); the
    * listener bus is drained after `f`, outside any span `f` times. */
  def jobsDuring[T](spark: SparkSession)(f: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val jobs = listener(spark).jobs
    val prev = sc.getLocalProperty(TagKey)
    val tag = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(TagKey, tag)
    val out = try scala.util.Try(f) finally sc.setLocalProperty(TagKey, prev)
    Shim.drainListenerBus(sc)
    val ran = jobs.take(tag)
    (out.get, ran)
  }

  /** Captures so far, oldest first; drains the listener bus first, so
    * every action that has returned is in them. */
  def captures(spark: SparkSession): Seq[Capture] =
    Option(listeners.get(spark)).fold(Seq.empty[Capture]) { l =>
      Shim.drainListenerBus(spark.sparkContext)
      l.ring.synchronized(l.ring.asScala.toList)
    }

  /** The captures as a DataFrame (the library-idiomatic report form). */
  def report(spark: SparkSession): DataFrame = {
    import spark.implicits._
    captures(spark)
      .map(c => (c.action, c.durationMs, c.outputRows, c.filesRead,
        c.bytesRead, c.error.orNull))
      .toDF("action", "duration_ms", "output_rows", "files_read",
        "bytes_read", "error")
  }

  def reset(spark: SparkSession): Unit =
    Option(listeners.get(spark)).foreach(l => l.ring.synchronized(l.ring.clear()))
}
