package graft

import graft.util.Config

/** The test session is the bench session: a setting that differs
  * between them would let plan pins pass on plans Bench never times. */
class SessionSpec extends SparkSpec {
  test("the test session runs the bench session config") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.enabled") === "false")
    assert(conf.get("spark.sql.adaptive.enabled") === Config.aqe)
    assert(conf.get("spark.sql.codegen.cache.maxEntries") === Config.codegenCacheEntries)
    assert(conf.get("spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation") ===
      Config.cteLocalAnchorRows)
    assert(conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled") === "false")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
  }
}
