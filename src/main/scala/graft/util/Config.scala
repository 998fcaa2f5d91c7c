package graft.util

/** The engine's environment-variable config surface, in one documented
  * place — the neutral analog of the reference's `.env` keys
  * (`scripts/energy_etl.py:13-14`, GCP project/dataset via dotenv).
  * Every tool main (`Bench`, `Verify`, `QTimer`, `Explain`)
  * and the test session build their SparkSession through [[Session]],
  * which reads through here, so the knob inventory and its defaults
  * can't drift between tools. Session values that only ever had one
  * setting in use are constants, marked as such below.
  *
  * | Variable | Meaning | Default |
  * |---|---|---|
  * | SPARK_GRAFT_SF_DIR    | fixture dir (parquet tables)        | /root/testdata/sf0.1 |
  * | SPARK_GRAFT_CPUS      | local[n] cores = shuffle partitions | the box's core count (the test session is fixed at 4) |
  * | (constant) [[aqe]]    | adaptive execution (every [[Session]]) | true |
  * | SPARK_GRAFT_BENCH_OUT | full bench-JSON output path         | bench_out.json |
  * | (constant) [[codegenCacheEntries]] | spark.sql.codegen.cache.maxEntries (sized to the declared query surface) | 4000 |
  * | (constant) [[cteLocalAnchorRows]] | recursive-CTE LocalRelation fast-path anchor-row ceiling | 1000000 |
  */
object Config {
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `SPARK_GRAFT_CPUS`, else `default` ([[Session.defaultCores]]
    * passes the box's core count). */
  def cpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** Adaptive execution: broadcast demotion and skew splitting (its
    * partition coalescing is off, see [[Session]]). */
  val aqe: String = "true"

  def benchOut: String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")

  /** Whole-stage-codegen class-cache capacity
    * (`spark.sql.codegen.cache.maxEntries`, Spark default 100). The
    * declared surface is ~240 distinct queries × ~8 codegen units each,
    * so under the default the janino cache thrashes: by the time the
    * bench's timed pass (or Verify's oracle pass) re-runs a query, its
    * generated classes are long evicted and every single query pays
    * full recompilation (measured r13: 0.3-1.5 s/query; a 10-query
    * interleaved A/B read 21.6 s → 16.2 s total at WORSE steal).
    * Production analog: any long-running driver serving a large query
    * corpus sizes this cache to its working set — the cost is a bounded
    * set of compiled classes on the driver heap, independent of data
    * scale or core count. 4000 covers the full surface with headroom. */
  val codegenCacheEntries: String = "4000"

  /** Anchor-row ceiling for Spark's recursive-CTE LocalRelation fast
    * path (`spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation`,
    * Spark default 100). Under the ceiling the optimizer folds each
    * UnionLoop iteration driver-side (ConvertToLocalRelation) instead of
    * running persist+count over the cluster — r14 JobProf read ~6
    * sequential ~0.35 s jobs per q_recursive_cte run whose payload was a
    * |customer|-row project/filter, i.e. pure per-iteration fixed cost
    * (guide §7.3 driver-bound iteration); with the fast path the
    * interleaved median halved (2.67 → 1.36 s). Driver-state bound: the
    * anchor is collected once — ≤ 24 MB at the 1M default for 3 scalar
    * columns, watermark-class state; an anchor past the ceiling falls
    * back to the distributed loop unchanged, so production-scale
    * recursions are untouched. Core-count- and data-scale-independent
    * (same class of value as the codegen cache above). */
  val cteLocalAnchorRows: String = "1000000"
}
