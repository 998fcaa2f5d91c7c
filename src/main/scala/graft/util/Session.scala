package graft.util

import org.apache.spark.sql.SparkSession

/** The one SparkSession every tool main and the test suite run under, so
  * plan pins, Explain output and the oracle gate see the plans Bench
  * times. Cores and log level are the only things that vary; every other
  * knob is read through [[Config]]. Every session records its actions
  * and tagged jobs through [[Metrics]]. */
object Session {
  /** `SPARK_GRAFT_CPUS`, else every core of the box. */
  def defaultCores: Int =
    Config.cpus(Runtime.getRuntime.availableProcessors.toString).trim.toInt

  def apply(cores: Int = defaultCores, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Local-mode fixtures are tiny single-file parquet: AQE's
      // partition coalescing would fold the requested `cores` shuffle
      // partitions back to 1-2 (64 MB advisory target), serializing all
      // post-shuffle compute. On a real cluster at 100 TB the advisory
      // target is right; at bench scale parallelism-first wins, so keep
      // AQE (broadcast demotion, skew splitting) but not coalescing.
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.adaptive.enabled", Config.aqe)
      .config("spark.sql.session.timeZone", "UTC")
      // deterministic bucket-aware scans for q_bucketed_join's g_bkt_*
      // tables: auto mode would pick the scan shape per query
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // ~240 queries × ~8 codegen units ≈ 2000 generated classes per
      // pass: the 100-entry default cache evicts everything between the
      // warm and timed passes, so every timed query repaid full janino
      // recompilation (r13 A/B: 0.3-1.5 s/query). Sized to the declared
      // surface — a driver-heap knob, not a core-count knob (Config).
      .config("spark.sql.codegen.cache.maxEntries", Config.codegenCacheEntries)
      // recursive-CTE LocalRelation fast path (Config scaladoc: guide §7.3)
      .config("spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation",
        Config.cteLocalAnchorRows)
      .config("spark.ui.enabled", "false")
      // a fresh warehouse, deleted when the JVM exits
      .config("spark.sql.warehouse.dir", org.apache.spark.sql.graftshim.Shim
        .deleteOnExit(java.nio.file.Files.createTempDirectory("graft_wh")))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    Metrics.install(spark)
    spark
  }
}
