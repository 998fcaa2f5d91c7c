package graft

/** The test session is the bench session: a setting that differs
  * between them would let plan pins pass on plans Bench never times.
  * Values are literals, so changing one of Config's constants fails
  * here. */
class SessionSpec extends SparkSpec {
  test("the test session runs the bench session config") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.enabled") === "false")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") === "4000")
    assert(conf.get("spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation") ===
      "1000000")
    assert(conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled") === "false")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("the session installs the native double ROUND rule") {
    import org.apache.spark.sql.catalyst.expressions.Round
    import org.apache.spark.sql.functions._
    val opt = spark.range(4).select(round(col("id") / 3, 2).as("r"))
      .queryExecution.optimizedPlan
    val exprs = opt.flatMap(_.expressions)
    assert(exprs.exists(_.exists(_.isInstanceOf[graft.functions.RoundDouble])), opt)
    assert(!exprs.exists(_.exists(_.isInstanceOf[Round])), opt)
  }

  test("the session installs the small-sort gathering rule") {
    assert(spark.sessionState.adaptiveRulesHolder.queryStagePrepRules
      .contains(graft.functions.GatherSmallSort))
  }

  test("the session's warehouse dir is deleted when the JVM exits") {
    val wh = new java.io.File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    assert(wh.getName.startsWith("graft_wh"), wh)
    assert(org.apache.spark.graftshim.Bus.deletedOnExit(wh), wh)
  }

  test("the session records actions with no install call") {
    graft.util.Metrics.reset(spark)
    spark.range(3).collect()
    assert(graft.util.Metrics.captures(spark).map(_.action) === Seq("collect"))
  }
}
