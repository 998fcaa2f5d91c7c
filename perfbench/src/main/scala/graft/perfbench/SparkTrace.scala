package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One completed stage's aggregated task metrics. */
final case class StageRec(spanId: Long, job: Int, start: Long, end: Long,
    tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, input: Long, output: Long)

/** One streaming trigger's progress report. */
final case class ProgressRec(batch: Long, at: Long, rows: Long, durations: Map[String, Long])

/** The traced run's Spark-side recorders: a SparkListener turns jobs and
  * stages into spans parented by the benchmark's local property, a
  * QueryExecutionListener sums the planner's phase times, and a
  * StreamingQueryListener keeps each trigger's progress. Installed only
  * in the traced run. */
final class SparkTrace(spark: SparkSession, tracer: Tracer) {
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (span, parent, start)
  private val stageJob = mutable.Map.empty[Int, Int]
  val stages: mutable.ArrayBuffer[StageRec] = mutable.ArrayBuffer.empty
  val planPhases: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty // (at, ms)
  val progress: mutable.ArrayBuffer[ProgressRec] = mutable.ArrayBuffer.empty

  private def ns(ms: Long): Long = ms * 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkTrace.this.synchronized {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.Property))).flatMap(_.toLongOption).getOrElse(0L)
      jobSpan(e.jobId) = (tracer.newId(), parent, ns(e.time))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkTrace.this.synchronized {
      jobSpan.get(e.jobId).foreach { case (id, parent, start) =>
        tracer.add(Span(id, parent, "job", s"job:${e.jobId}", start, ns(e.time)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = SparkTrace.this.synchronized {
      val i = e.stageInfo
      val job = stageJob.getOrElse(i.stageId, -1)
      val parent = jobSpan.get(job).map(_._1).getOrElse(0L)
      val (s0, s1) = (i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
      val m = i.taskMetrics
      val id = tracer.newId()
      tracer.add(Span(id, parent, "stage", s"stage:${i.stageId}", ns(s0), ns(s1)))
      stages += StageRec(id, job, ns(s0), ns(s1), i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = SparkTrace.this.synchronized {
      planPhases += ((tracer.now(), qe.tracker.phases.values.map(_.durationMs).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = SparkTrace.this.synchronized {
      import scala.jdk.CollectionConverters._
      progress += ProgressRec(e.progress.batchId, tracer.now(), e.progress.numInputRows,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Waits until every posted listener event has been handled. */
  def drain(): Unit = org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
}
