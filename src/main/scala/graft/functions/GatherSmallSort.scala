package graft.functions

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Query-stage preparation rule (registered via [[GraftExtensions]]): a
  * global sort over a small, already computed input is gathered into one
  * partition instead of range-partitioned.
  *
  * A range exchange first runs a sampling job, which recomputes the whole
  * stage below it, and then a shuffle — three jobs for an ORDER BY whose
  * answer may be four rows. AQE applies this rule each time it re-plans,
  * and it rewrites the `Exchange rangepartitioning` that EnsureRequirements
  * put under a global sort when
  *  - every leaf below the exchange is a materialized query stage, so its
  *    size is a runtime fact, not a file-size guess, and
  *  - that size (the child's logical statistics, which AQE computes from
  *    the stages' runtime statistics) is at most the broadcast threshold
  *    AQE itself uses at run time (`spark.sql.adaptive.autoBroadcastJoinThreshold`,
  *    else `spark.sql.autoBroadcastJoinThreshold`): a relation AQE would
  *    ship whole to every task is small enough to sort in one.
  *
  * Up to `spark.sql.adaptive.coalescePartitions.minPartitionSize`, the
  * size AQE treats as too small for a partition of its own, the exchange
  * becomes `Coalesce 1` — no shuffle, the sort runs in the result stage's
  * one task. Above it, the exchange becomes `Exchange SinglePartition`,
  * which needs no sampling job and keeps a mid-sized sort's input
  * computed in parallel. A user's `repartitionByRange` has another
  * shuffle origin and keeps its range exchange, and a negative threshold
  * turns the rule off. */
object GatherSmallSort extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val threshold = conf.getConf(SQLConf.ADAPTIVE_AUTO_BROADCASTJOIN_THRESHOLD)
      .getOrElse(conf.autoBroadcastJoinThreshold)
    if (threshold < 0) plan
    else plan.transformUp {
      case e @ ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _)
          if n > 1 && materialized(child) =>
        child.logicalLink.map(_.stats.sizeInBytes) match {
          case Some(size) if size <= threshold =>
            if (size <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)) {
              CoalesceExec(1, child)
            } else e.copy(outputPartitioning = SinglePartition)
          case _ => e
        }
    }
  }

  private def materialized(p: SparkPlan): Boolean = p.collectLeaves().forall {
    case s: QueryStageExec => s.isMaterialized
    case _ => false
  }
}
