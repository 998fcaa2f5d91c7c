package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One attempted operation: a query, a day's load, a dashboard read, a
  * micro-batch, a maintenance step, or an output check. */
final case class OpRec(kind: String, name: String, timed: Boolean,
    start: Long, end: Long, ok: Boolean) {
  def secs: Double = (end - start) / 1e9
}

/** State of one benchmark run, shared by the workloads. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Int, val work: java.io.File) {
  lazy val cores: Int = spark.sparkContext.defaultParallelism
  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
  /** Workload-specific readings under their own names (query_total_s,
    * load_p50_s, …), printed in the run record next to the metrics. */
  val detail: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Per-layer values only the workload can measure (sink files, fetch
    * attempts, …); the traced run reports them. */
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  private var firstTimed: Option[Long] = None
  /** Code generation inside timed operations (traced run only). */
  var codegenNs = 0L
  var codegenClasses = 0L

  def timedStart: Option[Long] = firstTimed

  /** Runs one operation. `body` returns whether its output was right; a
    * false or a throw counts the operation as failed. The first timed
    * operation ends set-up. */
  def op(kind: String, name: String, timed: Boolean = true)(body: => Boolean): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.metrics.source.CodegenMetrics
    val counting = timed && tracer.on
    val (c0, n0) = if (counting)
      (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount) else (0L, 0L)
    val t0 = tracer.now()
    if (timed && firstTimed.isEmpty) firstTimed = Some(t0)
    val ok =
      try tracer.span("op", s"$kind:$name")(body)
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind $name threw: $e")
        false
      }
    ops += OpRec(kind, name, timed, t0, tracer.now(), ok)
    if (counting) {
      codegenNs += CodeGenerator.compileTime - c0
      codegenClasses += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
    }
    if (!ok) System.err.println(s"[perfbench] FAILED $kind $name")
    ok
  }

  /** An untimed output check, counted like any other operation. */
  def check(name: String)(body: => Boolean): Boolean = op("check", name, timed = false)(body)

  /** A call into one layer of the program, traced as a span. */
  def call[T](name: String)(body: => T): T = tracer.span("call", name)(body)

  def timedSecs(kind: String): Seq[Double] =
    ops.toSeq.filter(o => o.timed && o.kind == kind).map(_.secs)
}
