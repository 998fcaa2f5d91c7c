package graft

import graft.util.Metrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** [[graft.functions.GatherSmallSort]] on the final adaptive plan: the
  * plan AQE ran, read after the action (the pre-execution plan never
  * shows the rule, since it fires only once the sort's input stages are
  * materialized). Every variant returns the same rows. */
class GatherSmallSortSpec extends SparkSpec {

  /** Every node of the plan `df` ran, query stages unwrapped. */
  private def ran(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case n => n.children.flatMap(walk)
    })
    val root = df.queryExecution.executedPlan
    assert(root.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan)
    walk(root)
  }

  private def rangeExchanges(nodes: Seq[SparkPlan]) = nodes.collect {
    case e @ ShuffleExchangeExec(_: RangePartitioning, _, _, _) => e
  }
  private def singleExchanges(nodes: Seq[SparkPlan]) = nodes.collect {
    case e @ ShuffleExchangeExec(SinglePartition, _, _, _) => e
  }
  private def coalesced(nodes: Seq[SparkPlan]) = nodes.collect {
    case c @ CoalesceExec(1, _) => c
  }

  /** `f` with the session confs set, restored afterwards. */
  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val conf = spark.conf
    val before = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** q_daily_avg collected: its rows, jobs and the nodes it ran. */
  private def dailyAvg() = {
    val df = SparkEntry.all("q_daily_avg").fn(spark, sf)
    val (rows, jobs) = Metrics.jobsDuring(spark)(df.collect().toSeq)
    (rows, jobs, ran(df))
  }

  test("q_daily_avg: a tiny sorted result is coalesced into the result " +
    "stage; a mid-sized one takes a single-partition exchange; with the " +
    "threshold at 1b or off, the range exchange stays — same rows") {
    dailyAvg(): Unit // warm: the events read and codegen
    val (rows, jobs, nodes) = dailyAvg()
    assert(rows.nonEmpty)
    assert(jobs.size === 2, jobs)
    assert(coalesced(nodes).size === 1, nodes.mkString("\n"))
    assert(rangeExchanges(nodes).isEmpty && singleExchanges(nodes).isEmpty,
      nodes.mkString("\n"))

    val (rowsX, jobsX, nodesX) = withConf(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")(dailyAvg())
    assert(rowsX === rows)
    assert(jobsX.size === 3, jobsX)
    assert(singleExchanges(nodesX).size === 1, nodesX.mkString("\n"))
    assert(rangeExchanges(nodesX).isEmpty && coalesced(nodesX).isEmpty,
      nodesX.mkString("\n"))

    Seq("1b", "-1").foreach { t =>
      val (rowsR, jobsR, nodesR) = withConf(
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> t)(dailyAvg())
      assert(rowsR === rows, t)
      assert(jobsR.size === 4, s"$t: $jobsR")
      assert(rangeExchanges(nodesR).size === 1, s"$t: ${nodesR.mkString("\n")}")
      assert(singleExchanges(nodesR).isEmpty && coalesced(nodesR).isEmpty, t)
    }
    // with the adaptive threshold unset, the static one decides
    val (rowsS, jobsS, _) = withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(dailyAvg())
    assert(rowsS === rows)
    assert(jobsS.size === 4, jobsS)
  }

  test("an empty, a one-row and a few-row sorted aggregate return their rows") {
    def pairs(df: DataFrame) = df.collect().toSeq
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1)))
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    def sorted(keep: org.apache.spark.sql.Column) = nation.filter(keep)
      .groupBy(col("n_regionkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("n_regionkey").desc)
    // a predicate the optimizer cannot fold: the scan runs, empty
    val empty = sorted(col("n_nationkey") < 0)
    assert(empty.collect().isEmpty)
    assert(rangeExchanges(ran(empty)).isEmpty)
    val one = sorted(col("n_nationkey") === 0)
    assert(pairs(one) === Seq((0L, 1L)))
    assert(rangeExchanges(ran(one)).isEmpty)
    // the same counts from the driver, sorted there
    def expected(keep: org.apache.spark.sql.Column) = nation.filter(keep)
      .select(col("n_regionkey")).collect().toSeq
      .groupBy(_.getAs[Number](0).longValue).map { case (k, v) => (k, v.size.toLong) }
      .toSeq.sortBy(-_._1)
    val few = sorted(col("n_nationkey") <= 5)
    assert(pairs(few) === expected(col("n_nationkey") <= 5))
    assert(pairs(few).size > 1)
    assert(coalesced(ran(few)).size === 1 && rangeExchanges(ran(few)).isEmpty)
    assert(pairs(sorted(lit(true))) === expected(lit(true)))
  }

  test("repartitionByRange keeps its range exchange") {
    val df = spark.read.parquet(s"$sf/nation.parquet")
      .groupBy(col("n_regionkey")).agg(count(lit(1)).as("n"))
      .repartitionByRange(4, col("n_regionkey"))
    assert(df.collect().length === 5)
    val nodes = ran(df)
    assert(rangeExchanges(nodes).size === 1, nodes.mkString("\n"))
    assert(coalesced(nodes).isEmpty && singleExchanges(nodes).isEmpty)
  }
}
