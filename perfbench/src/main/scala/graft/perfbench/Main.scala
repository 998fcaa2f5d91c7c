package graft.perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.util.Config

/** One benchmark run in this JVM:
  * `Main --workload <analytics|etl> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <dir>`.
  * Prints the run record, then the result as the last stdout line, and
  * exits 1 when any operation failed or returned a wrong result. `run.py`
  * builds the classpath and starts this JVM.
  *
  * Dev mode `Main --record <tablesDir> <outDir>` writes the generated
  * tables and each timed query's output for `tools/check.py`, and
  * prints the digests to keep in `analytics_refs.tsv`. */
object Main {
  /** The etl workload runs the daily job and then the streaming sink
    * with its maintenance in one JVM, so the two share one warm-up. */
  val workloads: Map[String, Run => Unit] = Map(
    "analytics" -> Analytics.run _,
    "etl" -> ((r: Run) => { DailyEtl.run(r); SinkStream.run(r) }))

  /** (name, unit, better, bound) of every end-to-end metric. */
  val endToEnd: Seq[(String, String, String, Double)] = Seq(
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.15),
    ("op_geomean_s", "s", "lower", 0.25),
    ("timed_total_s", "s", "lower", 0.25))

  /** The session graft.Bench builds, every knob read through Config. */
  def session(localDir: String): SparkSession = {
    val cpus = Config.cpus(Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.adaptive.enabled", Config.aqe)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", Config.codegenCacheEntries)
      .config("spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation",
        Config.cteLocalAnchorRows)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--record")) { recordRefs(args.tail); return }
    val workload = arg(args, "workload")
    val body = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    val traced = arg(args, "trace") == "1"
    val work = new java.io.File(arg(args, "work"))
    val out = new java.io.File(arg(args, "out"))
    require(seconds >= 1, "--seconds must be at least 1")

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val jiffies0 = Proc.cpuJiffies()
    val load0 = Proc.loadAvg1()
    val spark = session(new java.io.File(work, "spark-local").getPath)
    val tracer = new Tracer(traced)
    val sparkTrace = if (traced) Some(new SparkTrace(spark, tracer).install()) else None
    tracer.attach(spark.sparkContext)
    val r = new Run(spark, tracer, seed, seconds, work)
    val crashed =
      try { tracer.span("run", workload)(body(r)); false }
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $workload aborted: $e")
        e.printStackTrace()
        true
      }

    val timed = r.ops.filter(_.timed).map(_.secs).toSeq
    val e2e = Map(
      "setup_s" -> r.timedStart.map(t => (t - jvmStart) / 1e9).getOrElse(Double.NaN),
      "peak_rss_mb" -> Proc.peakRssMb(),
      "op_geomean_s" -> (if (timed.isEmpty) Double.NaN else Stats.geomean(timed)),
      "timed_total_s" -> timed.sum)
    val layers = sparkTrace.map(t => Layers.compute(r, t))
    val failed = r.ops.count(!_.ok) + (if (crashed) 1 else 0)
    val attempted = math.max(1, r.ops.size + (if (crashed) 1 else 0))
    val correct = failed == 0 && e2e.values.forall(v => !v.isNaN)

    val env = Seq(
      "steal_pct" -> Json.num(Proc.stealPct(jiffies0, Proc.cpuJiffies())),
      "load_avg_start" -> Json.num(load0),
      "load_avg_end" -> Json.num(Proc.loadAvg1()),
      "cores" -> r.cores.toString,
      "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")))
    val kinds = r.ops.map(_.kind).distinct
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> (if (traced) "1" else "0"),
      "env" -> Json.obj(env),
      "end_to_end" -> Json.obj(endToEnd.map { case (n, _, _, _) => n -> Json.num(e2e(n)) }),
      "timed_ops" -> timed.size.toString,
      "detail" -> Json.obj(r.detail.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "failed_ops" -> r.ops.filterNot(_.ok).map(o => Json.str(s"${o.kind}:${o.name}"))
        .mkString("[", ",", "]"),
      "raw_s" -> Json.obj(kinds.toSeq.map(k => k -> r.ops.filter(_.kind == k)
        .map(o => s"[${Json.str(o.name)},${Json.num(o.secs)}]").mkString("[", ",", "]")))))
    println(Json.obj(Seq("record" -> record)))

    out.mkdirs()
    tracer.write(new java.io.File(out, s"trace-$workload-$seed.jsonl").toPath)
    val metrics = layers match {
      case Some(l) => Layers.metrics.map { case (n, u, _) =>
        n -> Json.obj(Seq("value" -> Json.num(l(n)), "unit" -> Json.str(u)))
      }
      case None => endToEnd.map { case (n, u, _, _) =>
        n -> Json.obj(Seq("value" -> Json.num(e2e(n)), "unit" -> Json.str(u)))
      }
    }
    spark.stop()
    println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(metrics))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def recordRefs(args: Array[String]): Unit = {
    val (tables, out) = (args(0), args(1))
    val spark = session(new java.io.File(out, "spark-local").getPath)
    Analytics.record(spark, tables, out).foreach { case (q, d) => println(s"$q\t$d") }
    spark.stop()
  }
}
