package graft

import org.apache.spark.sql.functions._

/** Aggregate tiers and guards behind declared queries (broadcast
  * fallback, approximate-aggregate audits, regr_*, unit-sum vs
  * decimal-sum) and the ORC wire format. */
class SourcesAggregatesSpec extends SparkSpec {

  test("contamination broadcast guard: shuffle fallback matches the broadcast path") {
    import spark.implicits._
    import graft.ops.TextDedup
    val train = (1L to 400L)
      .flatMap(d => (0 until 6).map(k => (d, (d * 7 + k) % 97)))
      .toDF("doc_id", "h")
    val evalSh = (0L until 97L by 3L).toDF("h").distinct()
    def run(limit: Long) =
      TextDedup.contaminationFlags(train, evalSh, minShared = 2, broadcastLimit = limit)
    val generous = run(Long.MaxValue)
    assert(generous.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val a = generous.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // above the limit the eval side carries no broadcast hint — with
    // auto-broadcast off (as a genuinely large side would be), the join
    // shuffles and still returns the identical flags
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val forcedShuffle = run(0L)
      assert(!forcedShuffle.queryExecution.executedPlan.toString.contains("Broadcast"))
      val b = forcedShuffle.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a === b)
      assert(a.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("q_agg_approx: the audited HLL envelope boolean holds and the " +
    "exact counts match a direct countDistinct") {
    import spark.implicits._
    val r = SparkEntry.all("q_agg_approx").fn(spark, sf)
      .select($"o_orderstatus", $"exact_cust", $"hll_within_5rsd")
      .as[(String, Long, Boolean)].collect()
    assert(r.nonEmpty)
    r.foreach { case (st, _, ok) => assert(ok, s"$st HLL left its envelope") }
    val direct = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy($"o_orderstatus")
      .agg(countDistinct($"o_custkey").as("n"))
      .as[(String, Long)].collect().toMap
    r.foreach { case (st, n, _) => assert(n === direct(st), st) }
  }

  test("q_quantile_approx: every audited rank-band boolean holds and " +
    "the raw sketch values are ordered within group bounds") {
    import spark.implicits._
    val r = SparkEntry.all("q_quantile_approx").fn(spark, sf)
      .select($"l_returnflag", $"n_rows",
        $"p10_in_band", $"p50_in_band", $"p90_in_band")
      .as[(String, Long, Boolean, Boolean, Boolean)].collect()
    assert(r.nonEmpty)
    r.foreach { case (flag, n, a, b, c) =>
      assert(n > 0, flag)
      assert(a && b && c, s"$flag sketch left its ±0.01 rank band")
    }
    // the raw estimates (no longer in the hashed output) still obey
    // order + group bounds — checked directly against the sketch
    val raw = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile_approx(l_extendedprice, array(0.1, 0.5, 0.9), 1000)")
          .as("qs"),
        min($"l_extendedprice").as("lo"), max($"l_extendedprice").as("hi"))
      .as[(String, Seq[Double], Double, Double)].collect()
    raw.foreach { case (flag, qs, lo, hi) =>
      assert(qs(0) <= qs(1) && qs(1) <= qs(2), s"$flag unordered: $qs")
      assert(qs.head >= lo && qs.last <= hi, s"$flag out of [$lo,$hi]: $qs")
    }
  }

  test("built-in regr_* agrees with q_regression's integer-exact formula") {
    import spark.implicits._
    // the built-ins (regr_slope/intercept/r2) are the production
    // surface; the query emits oracle-proof basis points. Pin them to
    // each other on the real fixture: bp/10000 is the exact value
    // floored to 1e-4, so agreement within 1e-4 absolute + float noise.
    val li = graft.util.Tables.lineitem(spark, sf)
    val builtin = li.groupBy($"l_returnflag")
      .agg(regr_slope($"l_extendedprice", $"l_quantity").as("slope"),
        regr_intercept($"l_extendedprice", $"l_quantity").as("icpt"),
        regr_r2($"l_extendedprice", $"l_quantity").as("r2"))
      .as[(String, Double, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    val exact = SparkEntry.all("q_regression").fn(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(exact.nonEmpty)
    exact.foreach { case (flag, n, slopeBp, icptBp, r2Bp) =>
      val (slope, icpt, r2) = builtin(flag)
      assert(n > 0)
      assert(math.abs(slopeBp / 10000.0 - slope) <= math.abs(slope) * 1e-3 + 1e-4,
        s"$flag slope bp=${slopeBp / 10000.0} builtin=$slope")
      // intercept composes the floored slope_bp — tolerance widens by
      // the slope floor error × mean(x) (≤ 50)
      assert(math.abs(icptBp / 10000.0 - icpt) <= math.abs(icpt) * 1e-2 + 1.0,
        s"$flag icpt bp=${icptBp / 10000.0} builtin=$icpt")
      // r2 floors three quotients at 1e6 — still ≤ 1e-3 absolute here
      assert(math.abs(r2Bp / 10000.0 - r2) <= 1e-3,
        s"$flag r2 bp=${r2Bp / 10000.0} builtin=$r2")
    }
  }

  test("unitSum tier == decimal-sum tier on every grid-valued Q1 measure " +
    "(the grid audit the r8 arithmetic tier rests on)") {
    import spark.implicits._
    import graft.ops.Incremental
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val disc = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    // fixture grid audit: every raw measure equals its 2-decimal round
    val offGrid = li.filter(
      $"l_quantity" =!= round($"l_quantity", 0) ||
      $"l_extendedprice" =!= round($"l_extendedprice", 2) ||
      $"l_discount" =!= round($"l_discount", 2) ||
      $"l_tax" =!= round($"l_tax", 2)).count()
    assert(offGrid === 0L, "fixture measures left the 2-decimal grid — " +
      "the unitSum tier's exactness precondition broke")
    // tier equivalence: long unit sums reproduce the decimal sums bit-
    // for-bit after identical rounding, per group
    val units = li.groupBy($"l_returnflag", $"l_linestatus").agg(
      Incremental.unitSum($"l_quantity", 0).as("sq"),
      Incremental.unitSum($"l_extendedprice", 2).as("sp"),
      Incremental.unitSum(disc, 4).as("sd"),
      Incremental.unitSum(disc * (lit(1.0) + $"l_tax"), 6).as("sc"))
    val dec = li.groupBy($"l_returnflag", $"l_linestatus").agg(
      (sum($"l_quantity".cast("decimal(28,10)")) * 1).cast("decimal(38,0)").as("dq"),
      (sum($"l_extendedprice".cast("decimal(28,10)")) * 100).cast("decimal(38,0)").as("dp"),
      (sum(disc.cast("decimal(28,10)")) * 10000).cast("decimal(38,0)").as("dd"),
      round(sum((disc * (lit(1.0) + $"l_tax")).cast("decimal(28,10)")) * 1000000, 0)
        .cast("decimal(38,0)").as("dc"))
    val joined = units.join(dec, Seq("l_returnflag", "l_linestatus"))
    // sq/sp: raw 2-decimal doubles cast to decimal are EXACT per row
    // (shortest-repr), so the tiers must agree to the unit. sd: the
    // double product's ≤1e-11/row error sums to ≤0.15 of a 1e-4 unit
    // per group — same integer. sc: the scale-6 grid is finer than the
    // accumulated product error (≤ ~15 units of 1e-6 per group), so the
    // DECIMAL path itself is only that accurate — the unit tier is the
    // exact one; assert the decimal path stays inside its own envelope.
    val bad = joined.filter(
      $"sq" =!= $"dq".cast("long") || $"sp" =!= $"dp".cast("long") ||
      $"sd" =!= $"dd".cast("long") ||
      abs($"sc" - $"dc".cast("long")) > 20)
    assert(bad.count() === 0, bad.collect().mkString("\n"))
  }

  test("ORC wire format: roundtrip is value-identical to the parquet " +
    "source and predicates push into the ORC scan") {
    import spark.implicits._
    val src = spark.read.parquet(s"$sf/orders.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    // value-identical roundtrip, full width (sorted, collected — the
    // orders fixture at sf0.001 is 1.5k rows)
    val a = src.orderBy($"o_orderkey").collect()
    val b = back.orderBy($"o_orderkey").collect()
    assert(b.toSeq === a.toSeq)
    // predicate + projection reach the ORC scan (same contract PlanSpec
    // pins for parquet): PushedFilters carries the range predicate
    val q = back.filter($"o_totalprice" > 100000.0).select($"o_orderkey")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(o_totalprice), " +
      "GreaterThan(o_totalprice,100000.0)]"), scan)
    assert(q.count() > 0)
  }
}
