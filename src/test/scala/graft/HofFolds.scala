package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Built-in higher-order-function folds of the vector kernels: the
  * reference the specs check `graft_dot` / `graft_l2norm` against. Same
  * float64 math (per-element widening via [[graft.ops.VectorOps.vcol]],
  * left-to-right accumulation), interpreted one lambda call per element. */
object HofFolds {
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))
}
