package graft.ops

import graft.QueryDef
import graft.util.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scans, filters, aggregations, set ops and scalar-function queries
  * (SURVEY.md §2.1, §2.2, §2.4, §2.7, §2.8).
  *
  * Every builder is a pure `(spark, sfDir) => DataFrame` over the
  * fixture parquet; filters/projections are plain Catalyst expressions
  * so predicate pushdown + column pruning reach the parquet scan
  * (verified via .explain in RelationalSpec).
  *
  * Scale notes (100 TB): all aggregations here are hash aggregates with
  * partial (map-side) combine — shuffle carries only group keys ×
  * partial states, never raw rows. No driver-side collection anywhere.
  * Reference behavior being generalized: the daily-mean / projection /
  * predicate surface of `/root/reference/scripts/energy_etl.py`
  * (:55,:65,:69-70,:92-97).
  */
object Relational {

  // ---------------------------------------------------------------- scans

  /** Scan + project + derived literal column (reference energy_etl.py:70,:100
    * — the `load_timestamp` constant becomes a deterministic literal).
    *
    * The ORDER BY covers EVERY emitted non-constant column: the fixture
    * has duplicate (l_orderkey, l_linenumber) pairs (it is synthetic,
    * not TPC-H-unique), and a LIMIT over a non-total order is a
    * nondeterministic ROW SELECTION — Spark's per-partition top-k heaps
    * and DuckDB's single-stream sort picked different survivors at
    * sf0.1 until the tie-break was total (caught by the r8 sf0.1 oracle
    * tier; sf0.01 agreed by luck). */
  private val scanProject = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .select(
          $"l_orderkey",
          $"l_linenumber".cast("long").as("l_linenumber"),
          $"l_extendedprice",
          $"l_returnflag")
        .withColumn("load_date", to_date(lit("2026-01-01")))
        .orderBy($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_returnflag")
        .limit(100)
    },
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |       l_extendedprice, l_returnflag, DATE '2026-01-01' AS load_date
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_returnflag
      |LIMIT 100""".stripMargin)

  /** Compound predicates: BETWEEN / IN / NOT / AND / OR / equality plus a
    * timestamp range (reference :55,:65; generalized §2.2).
    *
    * Presentation sort covers every emitted column: (l_orderkey,
    * l_linenumber) is NOT unique in the synthetic fixture, and the
    * driver compare is row-order-sensitive — tied rows only agreed
    * between the engines by both sorts happening to be input-stable.
    * Total order removes the luck (same hardening as q_scan_project). */
  private val filterPred = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter(
          $"l_shipdate".between(
            to_timestamp(lit("1996-01-01 00:00:00")),
            to_timestamp(lit("1996-12-31 23:59:59"))) &&
          $"l_returnflag".isin("A", "N") &&
          !($"l_discount" < 0.02) &&
          ($"l_quantity" > 45 || $"l_tax" === 0.0))
        .select(
          $"l_orderkey",
          $"l_linenumber".cast("long").as("l_linenumber"),
          to_date($"l_shipdate").as("ship_date"),
          $"l_quantity", $"l_discount", $"l_tax")
        .orderBy($"l_orderkey", $"l_linenumber", $"ship_date",
          $"l_quantity", $"l_discount", $"l_tax")
    },
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |       CAST(l_shipdate AS DATE) AS ship_date, l_quantity, l_discount, l_tax
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59'
      |  AND l_returnflag IN ('A','N') AND NOT (l_discount < 0.02)
      |  AND (l_quantity > 45 OR l_tax = 0.0)
      |ORDER BY l_orderkey, l_linenumber, ship_date, l_quantity, l_discount, l_tax""".stripMargin)

  // ------------------------------------------------------------ aggregates

  /** TPC-H Q1 shape: grouped sum/avg/min/max/count/stddev (§2.4).
    * Partial aggregation reduces 100 TB of lineitem to |groups| rows
    * per partition before the shuffle. */
  private val aggBasic = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 4).as("sum_qty"),
          round(sum($"l_extendedprice"), 4).as("sum_base"),
          round(avg($"l_quantity"), 4).as("avg_qty"),
          round(avg($"l_extendedprice"), 4).as("avg_price"),
          round(min($"l_discount"), 4).as("min_disc"),
          round(max($"l_tax"), 4).as("max_tax"),
          round(stddev_samp($"l_quantity"), 4).as("sd_qty"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    """SELECT l_returnflag, l_linestatus,
      |       ROUND(SUM(l_quantity),4) AS sum_qty,
      |       ROUND(SUM(l_extendedprice),4) AS sum_base,
      |       ROUND(AVG(l_quantity),4) AS avg_qty,
      |       ROUND(AVG(l_extendedprice),4) AS avg_price,
      |       ROUND(MIN(l_discount),4) AS min_disc,
      |       ROUND(MAX(l_tax),4) AS max_tax,
      |       ROUND(STDDEV_SAMP(l_quantity),4) AS sd_qty,
      |       COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** Exact COUNT(DISTINCT) — Spark plans the expand + two-phase agg (§2.4). */
  private val aggDistinct = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_orderstatus")
        .agg(
          countDistinct($"o_custkey").as("n_cust"),
          countDistinct($"o_orderpriority").as("n_prio"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderstatus")
    },
    """SELECT o_orderstatus,
      |       COUNT(DISTINCT o_custkey) AS n_cust,
      |       COUNT(DISTINCT o_orderpriority) AS n_prio,
      |       COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)

  /** Approximate COUNT(DISTINCT) via the built-in HyperLogLog++ sketch
    * (§2.4 — no custom TypedImperativeAggregate needed). No oracle:
    * approximate results are engine-specific, so the driver records a
    * rows-only check (SURVEY.md §2.11 "no-oracle" list); the exactness
    * envelope is asserted in OperatorSpec instead. Scale: the sketch is
    * a fixed-size buffer per group — the shuffle carries sketches, not
    * distinct values, which is the point at 100 TB. */
  private val aggApprox = QueryDef(
    (s, dir) => {
      import s.implicits._
      // Distinct (status, custkey) FIRST — a codegen hash aggregate with
      // map-side partial dedup — then sketch + count the support set.
      // HLL registers only depend on the distinct hashed values, so the
      // estimate is identical to sketching the raw multiset, and the
      // exact count becomes a plain COUNT(*); keeping both measures in
      // one Aggregate over raw rows would instead plan an Expand (2×
      // rows) with codegen disabled by the imperative HLL buffer —
      // measured 1.7× slower at sf0.1.
      // isNotNull keeps COUNT(*)-over-distinct ≡ COUNT(DISTINCT custkey):
      // countDistinct excludes NULL but a distinct (status, NULL) row
      // would survive to the count — an off-by-one if the fixture ever
      // gains NULL custkeys
      // ORACLE-CHECKED since r8 (the q_heavy_hitters technique): the
      // raw HLL estimate is engine-specific, so the hashed output
      // carries the exact count plus the sketch's accuracy CONTRACT as
      // a boolean the oracle pins to literal TRUE — |approx − exact|
      // · 10 < exact (5× the requested rsd 0.02), pure integer
      // arithmetic. A register-merge bug now reds the driver gate.
      Tables.spread(Tables.orders(s, dir), "o_orderkey")
        .filter($"o_custkey".isNotNull)
        .select($"o_orderstatus", $"o_custkey").distinct()
        .groupBy($"o_orderstatus")
        .agg(
          approx_count_distinct($"o_custkey", 0.02).as("approx_cust"),
          count(lit(1)).as("exact_cust"))
        .select($"o_orderstatus", $"exact_cust",
          (abs($"approx_cust" - $"exact_cust") * 10 < $"exact_cust")
            .as("hll_within_5rsd"))
        .orderBy($"o_orderstatus")
    },
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS exact_cust,
      |       TRUE AS hll_within_5rsd
      |FROM orders WHERE o_custkey IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Mergeable-sketch columns (Spark 4 DataSketches HLL:
    * hll_sketch_agg → hll_union_agg → hll_sketch_estimate) — the
    * pre-aggregate-then-merge pattern that makes incremental distinct
    * counting possible at 100 TB: each (type, day) partition reduces to
    * a ~KB binary sketch ONCE, and any later rollup (per type here; per
    * week/month/anything in production) merges sketches instead of
    * re-scanning raw rows — the additive-reaggregation property plain
    * COUNT(DISTINCT) fundamentally lacks. Differs from q_agg_approx
    * (approx_count_distinct) exactly in that the sketch is a VALUE:
    * storable, unionable, re-estimable.
    *
    * Oracle contract (the q_agg_approx technique): the estimate is
    * engine-specific, so the output carries the exact distinct count
    * plus the accuracy contract as a boolean pinned to literal TRUE —
    * |merged-estimate − exact| · 10 < exact (5× the ~1.6% rsd of the
    * default lgK=12 sketch), with the estimate floored to integer
    * before the all-BIGINT comparison. A register-merge bug in the
    * union reds the driver gate. */
  private val hllUnion = QueryDef(
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .select($"event_type", to_date($"ts").as("d"),
          $"user_id")
        .groupBy($"event_type", $"d")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val merged = daily.groupBy($"event_type")
        .agg(expr("CAST(FLOOR(hll_sketch_estimate(hll_union_agg(sk))) " +
          "AS BIGINT)").as("est"), count(lit(1)).as("n_days"))
      val exact = Tables.events(s, dir)
        .groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
      merged.join(exact, Seq("event_type"))
        .select($"event_type", $"n_days", $"exact_users",
          (abs($"est" - $"exact_users") * 10 < $"exact_users")
            .as("merged_within_5rsd"))
        .orderBy($"event_type")
    },
    """SELECT event_type,
      |       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
      |       COUNT(DISTINCT user_id) AS exact_users,
      |       TRUE AS merged_within_5rsd
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Conditional + argmin/argmax aggregates (§2.4): count_if, bool_or /
    * bool_and, max_by / min_by, median. The max_by/min_by ordering key
    * is the UNIQUE o_orderkey so the picked row is deterministic — both
    * engines leave arg-extrema ties unspecified, so never feed them a
    * tied key ("price of the latest/first loaded order per status"). */
  private val aggConditional = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_orderstatus")
        .agg(
          expr("count_if(o_totalprice > 300000)").as("n_big"),
          expr("bool_or(o_orderpriority = '1-URGENT')").cast("long").as("has_urgent"),
          expr("bool_and(o_totalprice > 1000)").cast("long").as("all_over_1k"),
          max_by($"o_totalprice", $"o_orderkey").as("last_price"),
          min_by($"o_totalprice", $"o_orderkey").as("first_price"),
          expr("median(o_custkey)").cast("double").as("med_cust"))
        .orderBy($"o_orderstatus")
    },
    """SELECT o_orderstatus,
      |       COUNT(*) FILTER (WHERE o_totalprice > 300000) AS n_big,
      |       CAST(bool_or(o_orderpriority = '1-URGENT') AS BIGINT) AS has_urgent,
      |       CAST(bool_and(o_totalprice > 1000) AS BIGINT) AS all_over_1k,
      |       arg_max(o_totalprice, o_orderkey) AS last_price,
      |       arg_min(o_totalprice, o_orderkey) AS first_price,
      |       CAST(median(o_custkey) AS DOUBLE) AS med_cust
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Approximate quantiles via the built-in Greenwald-Khanna-style
    * sketch (§2.4 sketch family, alongside the HLL distinct-count): the
    * shuffle carries a bounded sketch per group instead of every value,
    * which is the 100 TB point. No oracle — sketch internals are
    * engine-specific — so the driver records rows-only;
    * SourcesAggregatesSpec pins the rank-error envelope against the
    * exact percentiles. The sketch result is unpacked into SCALAR
    * p10/p50/p90 columns: the rows-only check sorts the frame, and an
    * array cell is unsortable/unhashable there (r02 crash). Caveat:
    * partial GK sketches merge in shuffle-fetch order, which is not
    * guaranteed stable run-to-run — compare row counts, not values,
    * in any determinism check that includes this query. */
  private val quantileApprox = QueryDef(
    (s, dir) => {
      import s.implicits._
      // ORACLE-CHECKED since r8: the KLL-style sketch values are
      // engine-specific, so the hashed output carries the per-group
      // row count plus each estimate's RANK-ERROR contract as booleans
      // the oracle pins to TRUE — percentile_approx(accuracy=1000)
      // guarantees rank error ≤ 1/1000, and each estimate is checked
      // against the EXACT percentiles at p ± 0.01, a 10× margin that
      // keeps the booleans deterministic (the exact band edges never
      // enter the output, only the comparison).
      //
      // r13: the band edges come from the distributed rank-pick (the
      // q_percentile machinery) instead of the built-in `percentile`
      // aggregate — the built-in buffers EVERY group value in an
      // in-memory map per task (r13 JobProf: 12 s of task CPU at sf0.1,
      // and an OOM by construction at 100 TB — the exact anti-pattern
      // q_percentile's scaladoc documents). The sketch pass is
      // unchanged; only the audit side's exact percentiles are now
      // computed by global range sort + rank selection, interpolated
      // with the same straddle-contribution form q_percentile pins.
      // The 10× rank margin (±0.01·n vs n/1000 sketch error) keeps the
      // booleans TRUE regardless of which exact interpolation form
      // produced the edges.
      val li = Tables.spread(Tables.lineitem(s, dir), "l_orderkey")
        .select($"l_returnflag", $"l_extendedprice")
      val ps = Seq(0.09, 0.11, 0.49, 0.51, 0.89, 0.91)
      def straddle(p: Double, n: Long): Seq[Long] = {
        val pos = p * (n - 1).toDouble
        Seq(math.floor(pos).toLong + 1, math.ceil(pos).toLong + 1)
      }
      // ONE pass over lineitem: rankPickCounted derives the counts from
      // the persisted sort and the `aux` hook runs the sketch as a
      // cached read of the same rows. n_rows counts the null-cleaned
      // (flag, price) rows — identical here (the fixtures carry no null
      // measures; oracle-checked at every SF).
      val (picked, counted, sketchOut) = Scale.rankPickCounted(s,
        li.select($"l_returnflag", $"l_extendedprice".as("v")),
        "l_returnflag", "v",
        (_, n) => ps.flatMap(straddle(_, n)).distinct,
        aux = Some(cf => cf
          .groupBy($"l_returnflag")
          .agg(expr("percentile_approx(v, array(0.1, 0.5, 0.9), 1000)")
            .as("pcts"),
            count(lit(1)).as("n_rows"))))
      val counts = counted.toDF("l_returnflag", "n")
      def pos(p: Double) = lit(p) * ($"n" - 1).cast("double")
      def edge(p: Double): Column =
        sum(when($"rn".cast("double") - 1 === floor(pos(p)),
              when(floor(pos(p)) === ceil(pos(p)), $"v")
                .otherwise($"v" * (ceil(pos(p)) - pos(p))))
            .when($"rn".cast("double") - 1 === ceil(pos(p)),
              $"v" * (pos(p) - floor(pos(p)))))
      val edges = picked.join(broadcast(counts), "l_returnflag")
        .groupBy($"l_returnflag")
        .agg(edge(0.09).as("e09"), edge(0.11).as("e11"),
          edge(0.49).as("e49"), edge(0.51).as("e51"),
          edge(0.89).as("e89"), edge(0.91).as("e91"))
      sketchOut.get
        .join(broadcast(edges), "l_returnflag")
        .select($"l_returnflag", $"n_rows",
          (element_at($"pcts", 1) >= $"e09" &&
            element_at($"pcts", 1) <= $"e11").as("p10_in_band"),
          (element_at($"pcts", 2) >= $"e49" &&
            element_at($"pcts", 2) <= $"e51").as("p50_in_band"),
          (element_at($"pcts", 3) >= $"e89" &&
            element_at($"pcts", 3) <= $"e91").as("p90_in_band"))
        .orderBy($"l_returnflag")
    },
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |       TRUE AS p10_in_band, TRUE AS p50_in_band, TRUE AS p90_in_band
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Finest-grouping pre-aggregate feeding rollup/cube/grouping-sets:
    * (status, priority) partial count + exact decimal price sum. The
    * multi-level operators then Expand over |distinct key combos| rows
    * (~18) instead of the whole fact table — at 100 TB Expand×N IS the
    * cost of a grouping-sets query, and decimal partials make the
    * re-aggregation exact regardless of merge order (Incremental.r4
    * discipline; oracles mirror the rounding, not the staging). */
  private def ordersPreAgg(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("_n"),
        sum(col("o_totalprice").cast("decimal(28,10)")).as("_t"))

  /** ROLLUP + grouping_id (§2.4). gid disambiguates the NULL rollup rows. */
  private val rollup = QueryDef(
    (s, dir) => {
      import s.implicits._
      ordersPreAgg(s, dir)
        .rollup($"o_orderstatus", $"o_orderpriority")
        .agg(
          grouping_id().cast("long").as("gid"),
          // coalesce: on an EMPTY input the grand-total row still
          // appears, and SUM over zero partials is NULL where the
          // oracle's COUNT(*) is 0
          coalesce(sum($"_n"), lit(0L)).as("n"),
          Incremental.r4s(sum($"_t")).as("total"))
        .orderBy($"gid", $"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    },
    // gid derived from the null pattern, NOT multi-arg GROUPING():
    // orders has no null status/priority, so NULL ⇔ grouped-out, and the
    // CASE arithmetic is portable across every DuckDB build (the r3
    // driver's build disagreed with local 1.0.0 on GROUPING() under
    // GROUPING SETS — same engine output, red hash)
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(CASE WHEN o_orderstatus IS NULL THEN 2 ELSE 0 END
      |          + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END AS BIGINT) AS gid,
      |       COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 4) AS DOUBLE) AS total
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)

  /** CUBE over (status, priority) — all 4 grouping-set combinations
    * (§2.4 "Grouping sets / ROLLUP / CUBE"), over the pre-aggregate. */
  private val cube = QueryDef(
    (s, dir) => {
      import s.implicits._
      ordersPreAgg(s, dir)
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(
          grouping_id().cast("long").as("gid"),
          // coalesce: on an EMPTY input the grand-total row still
          // appears, and SUM over zero partials is NULL where the
          // oracle's COUNT(*) is 0
          coalesce(sum($"_n"), lit(0L)).as("n"),
          Incremental.r4s(sum($"_t")).as("total"))
        .orderBy($"gid", $"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    },
    // null-pattern gid + decimal ROUND: see q_rollup's oracle note
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(CASE WHEN o_orderstatus IS NULL THEN 2 ELSE 0 END
      |          + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END AS BIGINT) AS gid,
      |       COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 4) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)

  /** Exact percentiles (disc + cont median) per group — the statistical
    * aggregate family (§2.4 REF↑ of stddev/variance), computed by the
    * DISTRIBUTED rank-pick ([[Scale.rankPickCounted]]) instead of the built-in
    * `percentile` aggregate: the built-in buffers EVERY group value in
    * an in-memory map on one reducer (OOM by construction at 100 TB
    * with 3 group keys), and even a window `row_number` formulation
    * sorts each group on a single task. The rank-pick global-RANGE-sorts
    * (group, value) across all cores and selects only the rows at the
    * target ranks via zipWithIndex + per-group offsets.
    * Bit-equivalence with `percentile`: for percentage p over n values,
    * position pos = p·(n−1); the sorted row at index lo=⌊pos⌋
    * contributes v·(hi−pos) and at hi=⌈pos⌉ contributes v·(pos−lo)
    * (v alone when lo=hi) — IEEE · and + are commutative, so summing
    * the two terms replays the interpolation exactly.
    * percentile_disc(p) = smallest value with cume_dist ≥ p = the row
    * with rank ⌈p·n⌉. Assumes non-null measure columns (the built-in
    * skips nulls; fixture lineitem has none). */
  private val percentile = QueryDef(
    (s, dir) => {
      import s.implicits._
      // rows with a null measure drop BEFORE counting (SQL percentile
      // null-skipping; the shared-counts melt needs both measures, so a
      // row missing either is excluded — fixture has none, and at
      // ingest nulls are quarantined upstream anyway)
      val li = Tables.lineitem(s, dir)
        .select($"l_returnflag", $"l_quantity".cast("double").as("q"),
          $"l_extendedprice".cast("double").as("p"))
        .filter($"l_returnflag".isNotNull && $"q".isNotNull && $"p".isNotNull)
      // target ranks per group size (1-based): interpolation straddle
      // ranks for cont percentiles, ⌈p·n⌉ for disc — driver arithmetic
      // uses the same IEEE ops as the column expressions below
      def contRanks(pct: Double)(n: Long): Seq[Long] = {
        val pos = pct * (n - 1).toDouble
        Seq(math.floor(pos).toLong + 1, math.ceil(pos).toLong + 1)
      }
      // BOTH measures share ONE global range sort: melt to a composite
      // "flag|measure" group key and give each composite its own rank
      // set (rankPickCounted) — one sort + one zipWithIndex instead of two.
      // Composite order == Spark's sort order: flags ascend (counted is
      // engine-sorted) and '|p' < '|q' in binary UTF8.
      val melted = li
        .select(concat($"l_returnflag", lit("|p")).as("gk"), $"p".as("v"))
        .unionByName(li
          .select(concat($"l_returnflag", lit("|q")).as("gk"), $"q".as("v")))
      // No counts pass over li: rankPickCounted hands back the
      // per-composite counts it derived from the persisted sort, and the
      // per-flag n for the interpolation join is read off the "|p" half
      // on the driver (both measures carry one row per input row).
      val (picked0, meltCounts, _) = Scale.rankPickCounted(s, melted,
        "gk", "v",
        (g, n) =>
          if (g.endsWith("|q"))
            (contRanks(0.5)(n) :+ math.ceil(0.5 * n).toLong).distinct
          else contRanks(0.9)(n).distinct)
      val counts = meltCounts.collect {
        case (g, n) if g.endsWith("|p") => g.stripSuffix("|p") -> n
      }.toDF("l_returnflag", "n")
      val picked = picked0
        .select(substring_index($"gk", "|", 1).as("l_returnflag"), $"rn",
          $"v", substring_index($"gk", "|", -1).as("w"))
        .join(broadcast(counts), "l_returnflag")
      def pos(pct: Double) = lit(pct) * ($"n" - 1).cast("double")
      // contribution of the picked row with (1-based) rank rn to the
      // exact continuous percentile at pct
      def cont(which: String, pct: Double): Column =
        sum(when($"w" === which && $"rn".cast("double") - 1 === floor(pos(pct)),
              when(floor(pos(pct)) === ceil(pos(pct)), $"v")
                .otherwise($"v" * (ceil(pos(pct)) - pos(pct))))
            .when($"w" === which && $"rn".cast("double") - 1 === ceil(pos(pct)),
              $"v" * (pos(pct) - floor(pos(pct)))))
      picked
        .groupBy($"l_returnflag")
        .agg(
          cont("q", 0.5).as("p50_cont"),
          max(when($"w" === "q" && $"rn".cast("double") === ceil(lit(0.5) * $"n"),
            $"v")).as("p50_disc_lo"),
          round(cont("p", 0.9), 4).as("p90_price"))
        .orderBy($"l_returnflag")
    },
    """SELECT l_returnflag,
      |       quantile_cont(l_quantity, 0.5) AS p50_cont,
      |       quantile_disc(l_quantity, 0.5) AS p50_disc_lo,
      |       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Correlation / covariance per group (§2.4). */
  /** Correlation/covariance/variance census. Pearson r is stated from
    * the covariance and variances EXPLICITLY — r = cov/√(vx·vy), NULL
    * when either variance is 0 — rather than through the corr()
    * aggregate: under Spark 4's default ANSI mode corr() THROWS
    * DIVIDE_BY_ZERO on a zero-variance group (a constant column in one
    * partition slice kills the whole job — caught by the tie-storm
    * degenerate sweep), while cov/var return plain 0.0 and leave the
    * division to us to guard. DuckDB's CORR returns NULL there, so the
    * guarded form is also the cross-engine-portable one. */
  private val corr_ = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(
          covar_samp($"l_quantity", $"l_extendedprice").as("cov"),
          var_samp($"l_quantity").as("vx"),
          var_samp($"l_extendedprice").as("vy"))
        .select($"l_returnflag",
          when($"vx" > 0.0 && $"vy" > 0.0,
            round($"cov" / sqrt($"vx" * $"vy"), 4)).as("corr_qp"),
          round($"cov", 4).as("cov_qp"),
          round($"vx", 4).as("var_q"))
        .orderBy($"l_returnflag")
    },
    """SELECT l_returnflag,
      |       CASE WHEN VAR_SAMP(l_quantity) > 0
      |             AND VAR_SAMP(l_extendedprice) > 0
      |            THEN ROUND(COVAR_SAMP(l_quantity, l_extendedprice)
      |                       / SQRT(VAR_SAMP(l_quantity)
      |                              * VAR_SAMP(l_extendedprice)), 4)
      |       END AS corr_qp,
      |       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS cov_qp,
      |       ROUND(VAR_SAMP(l_quantity), 4) AS var_q
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Per-group simple linear regression (§2.4 — the regr_* family) of
    * y = l_extendedprice on x = l_quantity, computed INTEGER-EXACT:
    * values become cents (exact 2-decimal fixtures), the five cross
    * moments are decimal(38,0)/HUGEINT sums (order-independent — a
    * double Σxy at this magnitude exceeds 2^53 and would be
    * summation-order-dependent, the same failure class as the r3
    * grouping-sets red), and slope/intercept/r² are emitted in exact
    * basis points via integer cross-multiplication. Both engines replay
    * the identical integer formula, so the result is reproducible
    * bit-for-bit at any SF — magnitudes stay within 38 digits past
    * SF100 (headroom audited per term in line comments). Spark's
    * built-in regr_slope/regr_intercept/regr_r2 are pinned against this
    * exact formula in ExpressionSpec (envelope test) — the built-ins
    * ARE the production surface; bp integers are the oracle-proof one.
    * Both `div`s truncate toward zero on negatives (probed). */
  private val regression = QueryDef(
    (s, dir) => {
      import s.implicits._
      val b = Tables.lineitem(s, dir).select(
        $"l_returnflag",
        ($"l_quantity".cast("decimal(18,2)") * 100).cast("long").as("x"),
        ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long").as("y"))
      b.groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum($"x".cast("decimal(38,0)")).as("sx"), // ≤3e12 @ SF100
          sum($"y".cast("decimal(38,0)")).as("sy"), // ≤6e15
          sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"), // term ≤2.5e7
          sum(($"x" * $"y").cast("decimal(38,0)")).as("sxy"), // term ≤5e10
          sum(($"y" * $"y").cast("decimal(38,0)")).as("syy")) // term ≤1e14
        .withColumn("num", expr("CAST(n AS DECIMAL(38,0)) * sxy - sx * sy"))
        .withColumn("denx", expr("CAST(n AS DECIMAL(38,0)) * sxx - sx * sx"))
        .withColumn("deny", expr("CAST(n AS DECIMAL(38,0)) * syy - sy * sy"))
        .withColumn("slope_bp", expr(
          "CAST(CASE WHEN denx = 0 THEN 0 ELSE (num * 10000) div denx END AS BIGINT)"))
        // sy/sx are CENTS sums — the ÷100 returns the intercept to
        // price units before the bp scaling (slope needs no unit fix:
        // cents/cents ≡ units/units)
        .withColumn("intercept_bp", expr(
          "CAST((sy * 10000 - slope_bp * sx) div (CAST(n AS DECIMAL(38,0)) * 100) AS BIGINT)"))
        // Spark's `div` returns BIGINT — re-widen each quotient to
        // decimal BEFORE multiplying (quotient² ~1e22 would overflow
        // long); DuckDB's // keeps HUGEINT so its side needs no cast
        .withColumn("nq", expr("CAST(num div 1000000 AS DECIMAL(38,0))"))
        .withColumn("dq", expr("CAST(denx div 1000000 AS DECIMAL(38,0)) * CAST(deny div 1000000 AS DECIMAL(38,0))"))
        .withColumn("r2_bp", expr(
          "CAST(CASE WHEN dq = 0 THEN 0 ELSE (nq * nq * 10000) div dq END AS BIGINT)"))
        .select($"l_returnflag", $"n", $"slope_bp", $"intercept_bp", $"r2_bp")
        .orderBy($"l_returnflag")
    },
    """WITH b AS (
      |  SELECT l_returnflag,
      |         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM lineitem),
      |a AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |         SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |         SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |         SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM b GROUP BY 1),
      |m AS (
      |  SELECT l_returnflag, n, sx, sy,
      |         n * sxy - sx * sy AS num,
      |         n * sxx - sx * sx AS denx,
      |         n * syy - sy * sy AS deny
      |  FROM a),
      |sl AS (
      |  SELECT *, CASE WHEN denx = 0 THEN 0
      |                 ELSE (num * 10000) // denx END AS slope
      |  FROM m)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |       CAST(slope AS BIGINT) AS slope_bp,
      |       CAST((sy * 10000 - slope * sx) // (CAST(n AS HUGEINT) * 100) AS BIGINT) AS intercept_bp,
      |       CAST(CASE WHEN (denx // 1000000) * (deny // 1000000) = 0 THEN 0
      |            ELSE ((num // 1000000) * (num // 1000000) * 10000)
      |                 // ((denx // 1000000) * (deny // 1000000)) END AS BIGINT) AS r2_bp
      |FROM sl ORDER BY l_returnflag""".stripMargin)

  /** Pivot event_type → columns — the Power BI per-zone-card analog
    * (reference images/Powerbi.png; SURVEY.md §2.4). Mean = exact
    * decimal SUM / COUNT, not AVG(double) — see Incremental.dailyAvg. */
  private val pivot = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(to_date($"ts").as("date"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(Incremental.r4a(sum($"value".cast("decimal(28,10)")), count($"value")))
        .orderBy($"date")
    },
    """SELECT CAST(ts AS DATE) AS date,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))) FILTER (WHERE event_type='click'), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE)
      |             / (COUNT(value) FILTER (WHERE event_type='click') * 100.0) + 0.5) / 10000.0    AS click,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))) FILTER (WHERE event_type='view'), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE)
      |             / (COUNT(value) FILTER (WHERE event_type='view') * 100.0) + 0.5) / 10000.0     AS view,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))) FILTER (WHERE event_type='purchase'), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE)
      |             / (COUNT(value) FILTER (WHERE event_type='purchase') * 100.0) + 0.5) / 10000.0 AS purchase,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))) FILTER (WHERE event_type='signup'), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE)
      |             / (COUNT(value) FILTER (WHERE event_type='signup') * 100.0) + 0.5) / 10000.0   AS signup,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))) FILTER (WHERE event_type='error'), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE)
      |             / (COUNT(value) FILTER (WHERE event_type='error') * 100.0) + 0.5) / 10000.0    AS error
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** UNPIVOT — melt the per-type daily means back to long form (the
    * inverse of q_pivot; Spark 4 unpivot/melt). Oracle replays it as a
    * UNION ALL so the SQL stays engine-portable. */
  private val unpivot = QueryDef(
    (s, dir) => {
      import s.implicits._
      val types = Seq("click", "view", "purchase", "signup", "error")
      Tables.events(s, dir)
        .groupBy(to_date($"ts").as("date"))
        .pivot("event_type", types)
        .agg(Incremental.r4a(sum($"value".cast("decimal(28,10)")), count($"value")))
        .unpivot(Array($"date"), types.map(col).toArray, "event_type", "avg_value")
        .orderBy($"date", $"event_type")
    },
    """WITH p AS (
      |  SELECT CAST(ts AS DATE) AS date, event_type,
      |         FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE)
      |               / (COUNT(value) * 100.0) + 0.5) / 10000.0 AS avg_value
      |  FROM events GROUP BY 1, 2)
      |SELECT date, event_type, avg_value FROM p
      |ORDER BY date, event_type""".stripMargin)

  // ------------------------------------------------------- sorts / limits

  /** Fixed-width histogram per group — floor-arithmetic bin assignment
    * (exact integers on both engines; no engine histogram function
    * involved). The profiling aggregate every pipeline needs: one
    * hash-agg pass, |groups × bins| output rows. */
  private val histogram = QueryDef(
    (s, dir) => {
      import s.implicits._
      val bin = least(floor($"value" / 50.0).cast("long"), lit(9L))
      Tables.events(s, dir)
        .groupBy($"event_type", bin.as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min($"value"), 4).as("lo_obs"),
          round(max($"value"), 4).as("hi_obs"))
        .orderBy($"event_type", $"bin")
    },
    """SELECT event_type,
      |       LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS bin,
      |       COUNT(*) AS n,
      |       ROUND(MIN(value), 4) AS lo_obs, ROUND(MAX(value), 4) AS hi_obs
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Multi-key sort with explicit null ordering (§2.6). */
  private val sortMulti = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_mktsegment", $"c_acctbal")
        .orderBy($"c_mktsegment".asc_nulls_first, $"c_acctbal".desc_nulls_last,
          $"c_custkey")
    },
    """SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
      |ORDER BY c_mktsegment ASC NULLS FIRST, c_acctbal DESC NULLS LAST, c_custkey""".stripMargin)

  /** Global top-k → TakeOrderedAndProject, no full sort at scale (§2.6). */
  private val topk = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderstatus")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(10)
    },
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)

  // ----------------------------------------------------------------- sets

  /** UNION ALL — the reference's WRITE_APPEND semantics (energy_etl.py:105). */
  private val unionAll = QueryDef(
    (s, dir) => {
      import s.implicits._
      val c = Tables.customer(s, dir)
      val a = c.filter($"c_custkey" % 3 === 0)
        .select($"c_custkey", $"c_mktsegment", lit("a").as("tag"))
      val b = c.filter($"c_custkey" % 2 === 0)
        .select($"c_custkey", $"c_mktsegment", lit("b").as("tag"))
      a.unionByName(b).orderBy($"c_custkey", $"tag")
    },
    """SELECT c_custkey, c_mktsegment, 'a' AS tag FROM customer WHERE c_custkey % 3 = 0
      |UNION ALL
      |SELECT c_custkey, c_mktsegment, 'b' AS tag FROM customer WHERE c_custkey % 2 = 0
      |ORDER BY c_custkey, tag""".stripMargin)

  private val unionDistinct = QueryDef(
    (s, dir) => {
      import s.implicits._
      val c = Tables.customer(s, dir)
      val a = c.filter($"c_custkey" % 3 === 0).select($"c_custkey", $"c_mktsegment")
      val b = c.filter($"c_custkey" % 2 === 0).select($"c_custkey", $"c_mktsegment")
      a.union(b).distinct().orderBy($"c_custkey")
    },
    """SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 = 0
      |UNION
      |SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 0
      |ORDER BY c_custkey""".stripMargin)

  /** INTERSECT + EXCEPT composed into one tagged result (§2.7). */
  private val intersectExcept = QueryDef(
    (s, dir) => {
      import s.implicits._
      val c = Tables.customer(s, dir)
      val a = c.filter($"c_custkey" % 3 === 0).select($"c_custkey", $"c_mktsegment")
      val b = c.filter($"c_custkey" % 2 === 0).select($"c_custkey", $"c_mktsegment")
      val both = a.intersect(b).withColumn("tag", lit("both"))
      val onlyA = a.except(b).withColumn("tag", lit("only_a"))
      both.unionByName(onlyA).orderBy($"tag", $"c_custkey")
    },
    """WITH a AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 = 0),
      |     b AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 0)
      |SELECT c_custkey, c_mktsegment, 'both' AS tag FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      |UNION ALL
      |SELECT c_custkey, c_mktsegment, 'only_a' AS tag FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
      |ORDER BY tag, c_custkey""".stripMargin)

  // ------------------------------------------------------ scalar functions

  /** String functions: concat/substr/upper/lower/trim/like/regexp/format/lpad
    * (reference :19,:56 URL formatting generalized; §2.8). */
  private val stringFuncs = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.part(s, dir)
        .filter($"p_name".like("%a%"))
        .select(
          $"p_partkey",
          upper($"p_name").as("uname"),
          lower($"p_brand").as("lbrand"),
          substring($"p_type", 1, 5).as("type5"),
          length($"p_name").cast("long").as("name_len"),
          concat($"p_brand", lit("#"), $"p_type").as("brand_type"),
          lpad($"p_size".cast("string"), 3, "0").as("size_pad"),
          trim(upper($"p_name")).as("tname"),
          regexp_extract($"p_name", "([a-z]+)", 1).as("first_word"),
          regexp_replace($"p_name", "[aeiou]", "_").as("devoweled"),
          format_string("%03d:%s", $"p_size", $"p_brand").as("fmt"))
        .orderBy($"p_partkey")
    },
    """SELECT p_partkey, UPPER(p_name) AS uname, LOWER(p_brand) AS lbrand,
      |       SUBSTRING(p_type, 1, 5) AS type5,
      |       CAST(LENGTH(p_name) AS BIGINT) AS name_len,
      |       p_brand || '#' || p_type AS brand_type,
      |       LPAD(CAST(p_size AS VARCHAR), 3, '0') AS size_pad,
      |       TRIM(UPPER(p_name)) AS tname,
      |       REGEXP_EXTRACT(p_name, '([a-z]+)', 1) AS first_word,
      |       REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS devoweled,
      |       PRINTF('%03d:%s', p_size, p_brand) AS fmt
      |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""".stripMargin)

  /** Date functions: trunc/add/diff/extract/make_date/cast (reference
    * :43-48,:70,:79 date arithmetic generalized; §2.8). */
  private val dateFuncs = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .select($"o_orderkey", to_date($"o_orderdate").as("d"))
        .select(
          $"o_orderkey", $"d",
          year($"d").cast("long").as("y"),
          month($"d").cast("long").as("m"),
          dayofmonth($"d").cast("long").as("dom"),
          quarter($"d").cast("long").as("q"),
          trunc($"d", "month").as("month_start"),
          date_add($"d", 30).as("d_plus30"),
          datediff(to_date(lit("2000-01-01")), $"d").cast("long").as("days_to_2000"),
          make_date(year($"d"), month($"d"), lit(1)).as("first_of_month"),
          $"d".cast("string").as("d_str"))
        .orderBy($"o_orderkey")
        .limit(1000)
    },
    """WITH b AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
      |SELECT o_orderkey, d,
      |       CAST(year(d) AS BIGINT) AS y, CAST(month(d) AS BIGINT) AS m,
      |       CAST(day(d) AS BIGINT) AS dom, CAST(quarter(d) AS BIGINT) AS q,
      |       CAST(date_trunc('month', d) AS DATE) AS month_start,
      |       CAST(d + INTERVAL 30 DAY AS DATE) AS d_plus30,
      |       CAST(date_diff('day', d, DATE '2000-01-01') AS BIGINT) AS days_to_2000,
      |       make_date(CAST(year(d) AS INT), CAST(month(d) AS INT), 1) AS first_of_month,
      |       CAST(d AS VARCHAR) AS d_str
      |FROM b ORDER BY o_orderkey LIMIT 1000""".stripMargin)

  /** Math functions (reference :69 mean arithmetic generalized; §2.8).
    * pow/sqrt/ln/exp rounded — libm may differ by 1 ulp across engines;
    * pure +-* chains are IEEE-identical and left unrounded. */
  private val mathFuncs = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.spread(Tables.lineitem(s, dir), "l_orderkey")
        .select(
          $"l_orderkey",
          $"l_linenumber".cast("long").as("l_linenumber"),
          ($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("revenue"),
          abs($"l_discount" - 0.05).as("disc_dev"),
          ceil($"l_quantity" / 3.0).cast("long").as("qceil"),
          floor($"l_quantity" / 3.0).cast("long").as("qfloor"),
          (floor($"l_quantity").cast("long") % 7).as("qmod7"),
          round(pow($"l_quantity", 2.0), 4).as("qsq"),
          round(sqrt($"l_extendedprice"), 4).as("price_sqrt"),
          round(log($"l_extendedprice" + 1.0), 4).as("price_ln"),
          round(exp($"l_discount"), 4).as("disc_exp"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
        // tie-break on every input that feeds a projected column so the
        // total order (and the LIMIT cut) is deterministic across engines.
        .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity",
          $"l_extendedprice", $"l_discount", $"l_tax")
        .limit(2000)
    },
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |       l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS revenue,
      |       ABS(l_discount - 0.05) AS disc_dev,
      |       CAST(CEIL(l_quantity / 3.0) AS BIGINT) AS qceil,
      |       CAST(FLOOR(l_quantity / 3.0) AS BIGINT) AS qfloor,
      |       CAST(FLOOR(l_quantity) AS BIGINT) % 7 AS qmod7,
      |       ROUND(POW(l_quantity, 2.0), 4) AS qsq,
      |       ROUND(SQRT(l_extendedprice), 4) AS price_sqrt,
      |       ROUND(LN(l_extendedprice + 1.0), 4) AS price_ln,
      |       ROUND(EXP(l_discount), 4) AS disc_exp
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |         l_discount, l_tax
      |LIMIT 2000""".stripMargin)

  /** Null handling: coalesce / nullif / CASE WHEN over a left join
    * (reference :42,:82 null guards generalized; §2.8). */
  private val nullFuncs = QueryDef(
    (s, dir) => {
      import s.implicits._
      val spend = Tables.orders(s, dir)
        .groupBy($"o_custkey")
        .agg(round(sum($"o_totalprice"), 4).as("total"), count(lit(1)).as("n_ord"))
      Tables.customer(s, dir)
        .join(spend, $"c_custkey" === $"o_custkey", "left")
        .select(
          $"c_custkey",
          coalesce($"total", lit(0.0)).as("total_spend"),
          coalesce($"n_ord", lit(0L)).as("n_orders"),
          when($"total" > 300000, "big")
            .when($"total" > 100000, "mid")
            .otherwise("small").as("tier"),
          nullif($"c_mktsegment", lit("BUILDING")).as("seg_nb"))
        .orderBy($"c_custkey")
    },
    """WITH spend AS (
      |  SELECT o_custkey, ROUND(SUM(o_totalprice),4) AS total, COUNT(*) AS n_ord
      |  FROM orders GROUP BY o_custkey)
      |SELECT c_custkey,
      |       COALESCE(total, 0.0) AS total_spend,
      |       COALESCE(n_ord, 0) AS n_orders,
      |       CASE WHEN total > 300000 THEN 'big'
      |            WHEN total > 100000 THEN 'mid' ELSE 'small' END AS tier,
      |       NULLIF(c_mktsegment, 'BUILDING') AS seg_nb
      |FROM customer LEFT JOIN spend ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin)

  /** Error-safe expression surface — Spark's try_* family (try_cast /
    * try_divide / try_add), the row-level complement of the source-level
    * skip in Pipeline.fromJsonPayloads: at 100 TB a single malformed value
    * must yield NULL (and a count in the census), never a failed 6-hour
    * job or a silently-wrong ANSI-off wraparound. Bad rows are
    * synthesized DETERMINISTICALLY (an 'x' prefix on event_id ≡ 0 mod 7;
    * a zero divisor on ≡ 0 mod 5; an int64 overflow on every positive
    * event_id), and the ENGINE computes the census through the try_*
    * functions while the ORACLE states the ground truth as explicit
    * CASE arithmetic — so the hash match verifies the functions' exact
    * null-on-error semantics, not just both engines sharing a quirk.
    * floor(value·100) keeps the string payloads integer-exact on both
    * engines (a raw double→string render would diverge). The oracle's
    * payload CTE applies the SAME finiteness/null guard (a NULL or
    * non-finite value row is a NULL payload → a counted bad cast on
    * both sides), so the check stays valid under any future fixture
    * refresh — no implicit "events.value is always finite" contract. */
  private val tryFuncs = QueryDef(
    (s, dir) => {
      import s.implicits._
      // spread: the overflow arm throws-and-catches PER ROW (every
      // positive event_id overflows try_add by design), ~24 µs/row —
      // heavy per-row work on a single-file scan partition without the
      // fan-out (QTimer A/B: 2.38 s → see BASELINE.md r9 triage)
      Tables.spread(Tables.events(s, dir), "event_id")
        .select($"event_id", $"value")
        // the payload builder itself is error-safe — and NOT via floor
        // alone: Spark's FLOOR(double) returns BIGINT with NaN → 0 and
        // ±Inf → ±Long.MaxValue SILENTLY (no ANSI error), which both
        // corrupts the census and overflows the downstream SUM. A
        // non-finite value must become a NULL payload (→ a counted bad
        // cast), which takes an explicit finiteness guard.
        .withColumn("v100", when(
          !isnan($"value") && !$"value".isin(
            Double.PositiveInfinity, Double.NegativeInfinity),
          floor($"value" * 100).cast("long")))
        .withColumn("sraw", concat(
          when($"event_id" % 7 === 0, lit("x")).otherwise(lit("")),
          $"v100".cast("string")))
        .select(
          expr("try_cast(sraw AS BIGINT)").as("c"),
          expr("try_divide(CAST(10000 AS DOUBLE), " +
            "CAST(event_id % 5 AS DOUBLE))").as("d"),
          expr(s"try_add(${Long.MaxValue}L, event_id)").as("a"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when($"c".isNull, 1L).otherwise(0L)).cast("long").as("n_bad_cast"),
          sum($"c").cast("long").as("sum_good_cast"),
          sum(when($"d".isNull, 1L).otherwise(0L)).cast("long").as("n_div_null"),
          sum(when($"a".isNull, 1L).otherwise(0L)).cast("long")
            .as("n_overflow_null"))
    },
    """WITH e AS (SELECT event_id,
      |                  CASE WHEN value IS NOT NULL AND isfinite(value)
      |                       THEN CAST(FLOOR(value * 100) AS BIGINT)
      |                  END AS v100
      |           FROM events)
      |SELECT COUNT(*) AS n_rows,
      |       CAST(SUM(CASE WHEN event_id % 7 = 0 OR v100 IS NULL
      |                     THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_bad_cast,
      |       CAST(SUM(CASE WHEN event_id % 7 <> 0 THEN v100 END)
      |            AS BIGINT) AS sum_good_cast,
      |       CAST(SUM(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_div_null,
      |       CAST(SUM(CASE WHEN event_id > 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_overflow_null
      |FROM e""".stripMargin)

  /** JSON extraction: get_json_object + from_json→MapType access over the
    * events.props payload (reference :67,:69 JSON parse generalized; §2.8). */
  private val jsonExtract = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.spread(Tables.events(s, dir), "event_id")
        .select(
          $"event_id",
          $"event_type",
          get_json_object($"props", "$.k").cast("long").as("k_json"),
          element_at(
            from_json($"props", MapType(StringType, LongType)), "k").as("k_map"))
        .orderBy($"event_id")
    },
    """SELECT event_id, event_type,
      |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_json,
      |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_map
      |FROM events ORDER BY event_id""".stripMargin)

  /** XML surface (to_xml / from_xml / xpath_long) — the remaining
    * semi-structured lane next to JSON (q_json_extract), VARIANT
    * (q_variant_json) and the quarantining CSV/JSON file sources: web
    * corpora arrive as markup, and the engine must parse it
    * distributed, not in a driver loop. The fixture carries no XML, so
    * the engine ROUND-TRIPS: each event renders to an XML row
    * (to_xml), is parsed back both structurally (from_xml with an
    * explicit schema) and by path (xpath_long), and the census pins
    * per-type counts, the exact integer sum of the parsed payload, and
    * that every row survived the round trip bit-exactly. The oracle
    * states the same census from the ORIGINAL columns — a hash match
    * proves parse(render(x)) ≡ x over the whole table on integer/string
    * payloads (doubles are deliberately excluded: float rendering is
    * engine-specific, the q_profile rule). */
  private val xmlExtract = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.spread(Tables.events(s, dir), "event_id")
        .select($"event_id", $"event_type",
          get_json_object($"props", "$.k").cast("long").as("k"))
        .select($"event_id", $"event_type", $"k",
          expr("to_xml(named_struct('id', event_id, 'type', event_type, " +
            "'k', k))").as("x"))
        .select($"event_id", $"event_type", $"k",
          expr("from_xml(x, 'id BIGINT, type STRING, k BIGINT')").as("p"),
          // streaming StAX kernel (XmlKernelSpec pins parity with
          // xpath_long) — the xpath built-in's per-row DOM is this
          // query's documented GC tail; the kernel pull-parses to the
          // first match and allocates no tree
          call_function("graft_xml_long", $"x", lit("ROW/id")).as("xid"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"p.k").cast("long").as("sum_k"),
          sum(when($"p.id" === $"event_id" && $"p.type" === $"event_type" &&
              $"p.k" === $"k" && $"xid" === $"event_id", 1L)
            .otherwise(0L)).cast("long").as("n_roundtrip_ok"))
        .orderBy($"event_type")
    },
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |            AS BIGINT) AS sum_k,
      |       COUNT(*) AS n_roundtrip_ok
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Array functions over the embeddings vectors: size / element_at / slice /
    * transform / aggregate (§2.8, §2.9). Elements cast to double BEFORE any
    * arithmetic on both sides so float32-vs-float64 accumulation matches. */
  private val arrayFuncs = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.spread(Tables.embeddings(s, dir), "vec_id")
        .select(
          $"vec_id",
          $"label".cast("long").as("label"),
          transform($"embedding", x => x.cast("double")).as("v"))
        .select(
          $"vec_id", $"label",
          size($"v").cast("long").as("dim"),
          element_at($"v", 1).as("first_el"),
          round(aggregate($"v", lit(0.0), (acc, x) => acc + x), 4).as("vsum"),
          round(sqrt(aggregate($"v", lit(0.0), (acc, x) => acc + x * x)), 4).as("l2norm"),
          round(aggregate(slice($"v", 1, 8), lit(0.0), (acc, x) => acc + x), 4).as("head8_sum"),
          array_max($"v").as("vmax"))
        .orderBy($"vec_id")
    },
    """WITH b AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings)
      |SELECT vec_id, label, CAST(len(v) AS BIGINT) AS dim, v[1] AS first_el,
      |       ROUND(list_sum(v), 4) AS vsum,
      |       ROUND(SQRT(list_sum(list_transform(v, x -> x*x))), 4) AS l2norm,
      |       ROUND(list_sum(v[1:8]), 4) AS head8_sum,
      |       list_max(v) AS vmax
      |FROM b ORDER BY vec_id""".stripMargin)

  /** Explicit GROUPING SETS through the SQL entry point (rollup/cube
    * cover the sugar forms; this pins the general form + the spark.sql
    * surface over a registered temp view — SURVEY.md §3.4 lifecycle). */
  private val groupingSets = QueryDef(
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_gsets")
      // finest-grouping pre-aggregate before the GROUPING SETS Expand
      // (see ordersPreAgg) + decimal SUM rounded IN DECIMAL before the
      // double cast (Incremental.r4s discipline): a double SUM would be
      // summation-order-dependent the moment orders is read as more
      // than one partition
      s.sql(
        """WITH base AS (
          |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS _n,
          |         SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS _t
          |  FROM orders_gsets GROUP BY 1, 2)
          |SELECT o_orderstatus, o_orderpriority,
          |       CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
          |       COALESCE(SUM(_n), 0) AS n,
          |       CAST(ROUND(SUM(_t), 4) AS DOUBLE) AS total
          |FROM base
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |                        (o_orderstatus), (o_orderpriority), ())
          |ORDER BY gid, o_orderstatus ASC NULLS FIRST,
          |         o_orderpriority ASC NULLS FIRST""".stripMargin)
    },
    // the r3 driver red: its DuckDB build disagreed with local 1.0.0 on
    // multi-arg GROUPING() under a GROUPING SETS clause (rows matched,
    // hash didn't; the engine parquet was bit-identical to green
    // q_cube's). Driver-proofed by deriving gid from the null pattern —
    // valid because orders has no null status/priority — and rounding
    // the decimal sum in decimal before any double cast.
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(CASE WHEN o_orderstatus IS NULL THEN 2 ELSE 0 END
      |          + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END AS BIGINT) AS gid,
      |       COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 4) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), (o_orderpriority), ())
      |ORDER BY gid, o_orderstatus ASC NULLS FIRST,
      |         o_orderpriority ASC NULLS FIRST""".stripMargin)

  /** MapType operator family: construct / merge / filter / transform /
    * introspect maps (§2.8 "Map" row beyond the single element_at in
    * q_json_extract). NOTE: the oracle PINS the fixture's exact props
    * shape (every event carries exactly the numeric key "k", so
    * n_keys=3, keys='day,k,type', has_k=1, n_numeric=1 are constants) —
    * k2 and day_val are the recomputed scalars. If the fixture's props
    * schema ever evolves, update these pinned constants alongside it. */
  private val mapFuncs = QueryDef(
    (s, dir) => {
      import s.implicits._
      val mv = from_json($"props", MapType(StringType, StringType))
      val m2 = map(lit("type"), $"event_type",
        lit("day"), to_date($"ts").cast("string"))
      Tables.spread(Tables.events(s, dir), "event_id")
        .select($"event_id", $"props", $"event_type", $"ts")
        // exclude m2's key names from the JSON side before concat:
        // map_concat throws on duplicate keys (default dedup policy is
        // EXCEPTION), and props is free-form input — never let payload
        // content crash the query
        .withColumn("m3", map_concat(
          map_filter(mv, (k, _) => !k.isin("type", "day")), m2))
        .select(
          $"event_id",
          size($"m3").cast("long").as("n_keys"),
          array_join(array_sort(map_keys($"m3")), ",").as("keys"),
          element_at(
            transform_values(mv, (_, v) => v.cast("long") * 2), "k").as("k2"),
          element_at($"m3", "day").as("day_val"),
          map_contains_key(mv, "k").cast("long").as("has_k"),
          size(map_filter(mv, (_, v) => v.rlike("^[0-9]+$")))
            .cast("long").as("n_numeric"))
        .orderBy($"event_id")
    },
    """SELECT event_id,
      |       CAST(3 AS BIGINT) AS n_keys,
      |       'day,k,type' AS keys,
      |       2 * CAST(json_extract_string(props, '$.k') AS BIGINT) AS k2,
      |       CAST(CAST(ts AS DATE) AS VARCHAR) AS day_val,
      |       CAST(1 AS BIGINT) AS has_k,
      |       CAST(1 AS BIGINT) AS n_numeric
      |FROM events ORDER BY event_id""".stripMargin)

  /** Subquery family through the SQL surface: uncorrelated scalar,
    * IN-subquery, and a correlated scalar COUNT — exercising Catalyst's
    * subquery decorrelation rules (SURVEY.md §4.2). The mean-balance
    * predicate is stated as `bal·N > Σbal` with an exact decimal sum so
    * neither engine's double summation order can flip the comparison. */
  private val subquery = QueryDef(
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_sq")
      Tables.orders(s, dir).createOrReplaceTempView("orders_sq")
      s.sql(
        """SELECT c.c_custkey, c.c_acctbal,
          |       (SELECT COUNT(*) FROM orders_sq o
          |        WHERE o.o_custkey = c.c_custkey
          |          AND o.o_orderpriority = '1-URGENT') AS n_urgent
          |FROM customer_sq c
          |WHERE c.c_acctbal * (SELECT COUNT(*) FROM customer_sq) >
          |      CAST((SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4)))
          |            FROM customer_sq) AS DOUBLE)
          |  AND c.c_custkey IN (SELECT o_custkey FROM orders_sq
          |                      WHERE o_totalprice > 400000)
          |ORDER BY c.c_custkey""".stripMargin)
    },
    """SELECT c.c_custkey, c.c_acctbal,
      |       (SELECT COUNT(*) FROM orders o
      |        WHERE o.o_custkey = c.c_custkey
      |          AND o.o_orderpriority = '1-URGENT') AS n_urgent
      |FROM customer c
      |WHERE c.c_acctbal * (SELECT COUNT(*) FROM customer) >
      |      CAST((SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4)))
      |            FROM customer) AS DOUBLE)
      |  AND c.c_custkey IN (SELECT o_custkey FROM orders
      |                      WHERE o_totalprice > 400000)
      |ORDER BY c.c_custkey""".stripMargin)

  /** Recursive CTE through the SQL surface (Spark 4's UnionLoop — the
    * iterative-until-empty plan SQL:1999 recursion lowers to):
    * ancestor-chain walk over the implicit binary-key hierarchy
    * (parent(k) = k/8 — a deterministic hierarchy derived purely from
    * the fixture keys; base 8 keeps the loop at ⌈log₈ max-key⌉ ≈ 6
    * sequential steps, since each UnionLoop iteration is one Spark
    * job and job-launch latency, not data, is the per-step cost at
    * fixture scale), rolled up into a per-depth census with an
    * exact decimal balance sum — each step an Exchange-free narrow
    * pass over the frontier — the
    * shape org-chart / BOM / graph-reachability queries take at scale
    * (frontier shrinks or holds, never multiplies, because every node
    * has exactly one parent).
    *
    * The engine runs WITH RECURSIVE end to end (UnionLoopExec executes
    * the loop); DuckDB replays the identical recursion. Integer-only
    * recursion state (node, cur, steps) — nothing rounding-sensitive
    * accumulates across iterations; the one decimal sum happens once
    * at the final rollup. */
  private val recursiveCte = QueryDef(
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_rec")
      s.sql(
        """WITH RECURSIVE anc AS (
          |  SELECT c_custkey AS node, c_custkey AS cur, 0 AS steps
          |  FROM customer_rec
          |  UNION ALL
          |  SELECT node, cur DIV 8, steps + 1 FROM anc WHERE cur > 1
          |)
          |SELECT CAST(steps AS BIGINT) AS depth,
          |       CAST(COUNT(*) AS BIGINT) AS n_nodes,
          |       MIN(node) AS min_node, MAX(node) AS max_node,
          |       CAST(ROUND(SUM(CAST(b.c_acctbal AS DECIMAL(28,10))), 4)
          |            AS DOUBLE) AS bal_sum
          |FROM anc JOIN customer_rec b ON anc.node = b.c_custkey
          |WHERE cur <= 1
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    },
    """WITH RECURSIVE anc AS (
      |  SELECT c_custkey AS node, c_custkey AS cur, 0 AS steps FROM customer
      |  UNION ALL
      |  SELECT node, cur // 8, steps + 1 FROM anc WHERE cur > 1
      |)
      |SELECT CAST(steps AS BIGINT) AS depth,
      |       CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |       MIN(node) AS min_node, MAX(node) AS max_node,
      |       CAST(ROUND(SUM(CAST(b.c_acctbal AS DECIMAL(28,10))), 4)
      |            AS DOUBLE) AS bal_sum
      |FROM anc JOIN customer b ON anc.node = b.c_custkey
      |WHERE cur <= 1
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Spark 4 SQL scripting (`BEGIN … END` with DECLARE/WHILE/SET —
    * SQL/PSM control flow executed BY THE ENGINE, each iteration one
    * planned query): a driver-style search loop stated entirely in SQL —
    * double a price threshold until fewer than 100 orders exceed it
    * (the classic "find the cutoff" calibration every curation
    * pipeline runs before a filter). The scripting variable carries
    * only exact BIGINTs (thresholds 100·2^k are exactly representable
    * as doubles, so the o_totalprice comparison can't ulp-flip), and
    * the loop is ⌈log₂(max/100)⌉ ≈ 12 tiny aggregate jobs — the same
    * loopable-BSP cost class as q_pagerank_step. The oracle replays
    * the fixed point declaratively: the min k over a generated series
    * whose count drops under the floor — pinning that the procedural
    * and declarative statements of the same fixed point agree. */
  private val sqlScript = QueryDef(
    (s, dir) => {
      import s.implicits._
      // set/restore discipline (the parser flag is session conf with no
      // per-query option): the scripting flag and the loop's cached
      // input are SCOPED to this query — a bench or notebook session
      // running 200 queries after this one must not inherit a flipped
      // parser flag or a stale cached projection.
      val confKey = "spark.sql.scripting.enabled"
      val prevScripting = s.conf.getOption(confKey)
      s.conf.set(confKey, "true")
      try {
        // iterative-loop discipline (same rule as starCC / the MMR
        // checkpoints): the loop's input materializes ONCE — a pruned
        // single-column projection cached in memory — so the ~12 count
        // jobs scan columnar memory, not parquet, 12 times. The script
        // executes EAGERLY inside s.sql (each WHILE iteration is a
        // planned job), so the cache is consumed before the finally
        // releases it; the returned frame is a variable-only SELECT
        // with no dependence on orders_ss. At 100 TB you cache exactly
        // this: the pruned projection the loop touches, never the table.
        Tables.orders(s, dir).select($"o_totalprice")
          .createOrReplaceTempView("orders_ss")
        s.catalog.cacheTable("orders_ss")
        // one fused multi-assignment per iteration instead of two SETs:
        // each scripting statement pays full parse/analyze/plan on the
        // driver (~70 ms — r13 JobProf read 3.1 s of driver time against
        // 1.6 s of job time for this query), so halving the per-loop
        // statement count halves the dominant cost. Same fixed point:
        // thr' = thr*2 evaluated first, n counted against thr'.
        try s.sql(
          """BEGIN
            |  DECLARE thr BIGINT = 100;
            |  DECLARE n BIGINT = 9223372036854775807;
            |  WHILE n >= 100 DO
            |    SET (thr, n) = (SELECT thr * 2,
            |                           (SELECT COUNT(*) FROM orders_ss
            |                            WHERE o_totalprice > thr * 2));
            |  END WHILE;
            |  SELECT thr AS threshold, n AS n_above;
            |END""".stripMargin)
        finally {
          s.catalog.uncacheTable("orders_ss")
          s.catalog.dropTempView("orders_ss"): Unit
        }
      } finally prevScripting match {
        case Some(v) => s.conf.set(confKey, v)
        case None => s.conf.unset(confKey)
      }
    },
    """WITH ks AS (SELECT CAST(k AS BIGINT) AS k FROM range(1, 41) t(k)),
      |c AS (SELECT k, 100 * (CAST(1 AS BIGINT) << k) AS thr FROM ks),
      |cnt AS (SELECT k, thr,
      |               (SELECT COUNT(*) FROM orders o
      |                WHERE o.o_totalprice > c.thr) AS n
      |        FROM c)
      |SELECT thr AS threshold, n AS n_above
      |FROM cnt WHERE n < 100 ORDER BY k LIMIT 1""".stripMargin)

  /** Spark 4 SQL pipe syntax (`FROM t |> WHERE … |> AGGREGATE …` —
    * the linear dataflow form of SQL): the same filtered-aggregate +
    * HAVING census as plain SQL, stated as a pipeline. The engine
    * point: pipe syntax is PARSER sugar — Catalyst lowers it to the
    * identical logical plan (OperatorInvariantsSpec pins
    * optimizedPlan.sameResult against the standard form), so pushdown,
    * two-phase aggregation and every other plan property carry over
    * untouched. The oracle replays the standard form. */
  private val sqlPipe = QueryDef(
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_sp")
      s.sql(
        """FROM orders_sp
          ||> WHERE o_orderstatus = 'O'
          ||> AGGREGATE COUNT(*) AS n,
          |     CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 4)
          |          AS DOUBLE) AS rev
          |   GROUP BY o_orderpriority
          ||> WHERE n >= 10
          ||> ORDER BY o_orderpriority""".stripMargin)
    },
    """SELECT o_orderpriority, COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 4)
      |            AS DOUBLE) AS rev
      |FROM orders WHERE o_orderstatus = 'O'
      |GROUP BY o_orderpriority HAVING COUNT(*) >= 10
      |ORDER BY o_orderpriority""".stripMargin)

  /** Declarative SQL UDFs (Spark 4 `CREATE FUNCTION … RETURN expr` —
    * the remaining UDF surface next to the codegen Catalyst
    * Expressions, typed Aggregators and the lambda-HOF usage): a
    * scalar tiering function used INSIDE the grouping key, and an
    * integer basis-points share composed over an aggregate-in-window.
    * The engine point: Catalyst INLINES SQL UDFs into the plan as
    * expression macros — unlike a JVM/Python UDF there is no opaque
    * call boundary, so whole-stage codegen, constant folding and
    * pushdown all see through them; the 100 TB advice is "SQL UDF >
    * native Expression > JVM UDF" for anything expressible. The
    * oracle replays the same expressions inline (the registration API
    * is Spark surface; the semantics are plain SQL). */
  private val sqlUdf = QueryDef(
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_su")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION order_tier(p DOUBLE)
          |RETURNS STRING
          |RETURN CASE WHEN p >= 300000 THEN 'high'
          |            WHEN p >= 150000 THEN 'mid' ELSE 'low' END""".stripMargin)
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION share_bp(a BIGINT, b BIGINT)
          |RETURNS BIGINT
          |RETURN CASE WHEN b > 0 THEN a * 10000 DIV b ELSE 0 END""".stripMargin)
      s.sql(
        """SELECT o_orderstatus, order_tier(o_totalprice) AS tier,
          |       CAST(COUNT(*) AS BIGINT) AS n,
          |       share_bp(COUNT(*),
          |         SUM(COUNT(*)) OVER (PARTITION BY o_orderstatus)) AS tier_bp
          |FROM orders_su
          |GROUP BY o_orderstatus, order_tier(o_totalprice)
          |ORDER BY o_orderstatus, tier""".stripMargin)
    },
    """SELECT o_orderstatus,
      |       CASE WHEN o_totalprice >= 300000 THEN 'high'
      |            WHEN o_totalprice >= 150000 THEN 'mid' ELSE 'low' END AS tier,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(CASE WHEN SUM(COUNT(*)) OVER (PARTITION BY o_orderstatus) > 0
      |            THEN COUNT(*) * 10000
      |                 // SUM(COUNT(*)) OVER (PARTITION BY o_orderstatus)
      |            ELSE 0 END AS BIGINT) AS tier_bp
      |FROM orders
      |GROUP BY o_orderstatus,
      |         CASE WHEN o_totalprice >= 300000 THEN 'high'
      |              WHEN o_totalprice >= 150000 THEN 'mid' ELSE 'low' END
      |ORDER BY o_orderstatus, tier""".stripMargin)

  /** Correlated LATERAL table subquery (§2.3 SQL surface beyond
    * q_subquery's scalar/IN forms): top-2 orders per customer, stated
    * as a per-row derived TABLE — the "for each row, run this
    * parameterized query" operator. Catalyst decorrelates the
    * ORDER BY + LIMIT inner query into a join + per-key window top-k
    * (DecorrelateInnerQuery), so the executed plan is the scalable
    * ranked-join, never a per-row re-execution — exactly what a 100 TB
    * plan needs. Only customers WITH orders appear (CROSS JOIN LATERAL
    * = inner lateral on both engines); o_totalprice is an untouched
    * parquet double, bit-equal across engines. */
  private val lateral = QueryDef(
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_lat")
      Tables.orders(s, dir).createOrReplaceTempView("orders_lat")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer_lat c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lat o
          |         WHERE o.o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)
    },
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
      |         WHERE o.o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)

  /** Column profiling — the ANALYZE-style data-quality pass every
    * large-scale ingest runs before trusting a new drop: per-column
    * row/null/distinct counts plus min/max and value-length bounds.
    * Columns are melted to (col_name, value-as-string) rows so ONE
    * two-phase aggregate profiles them all in a single pass over the
    * table (map-side partials cut the melt's ×4 fan-out before the
    * |columns|-key shuffle; the exact distinct adds the standard
    * two-level expand). Doubles are deliberately excluded from the
    * string melt — float formatting is engine-specific (they get
    * range profiling via q_histogram / q_agg_basic instead); the
    * timestamp is profiled at date grain, formatted identically by
    * both engines. Scale: one scan, shuffle carries |columns| groups
    * of partial states, never rows. */
  private val profile = QueryDef(
    (s, dir) => {
      import s.implicits._
      val kv = (name: String, v: org.apache.spark.sql.Column) =>
        struct(lit(name).as("col_name"), v.cast("string").as("v"))
      // spread: the single-file scan is one input partition, so the
      // 5-way melt explode + the distinct-agg Expand (×2 the melted
      // rows) ran single-threaded — one 2.2 s task (r13 JobProf).
      // Hash-repartitioning on the unique key parallelizes the
      // per-row-heavy stage; production many-file layouts get this for
      // free (Tables.spread scaladoc).
      Tables.spread(Tables.orders(s, dir), "o_orderkey")
        .select(explode(array(
          kv("o_orderkey", $"o_orderkey"),
          kv("o_custkey", $"o_custkey"),
          kv("o_orderstatus", $"o_orderstatus"),
          kv("o_orderpriority", $"o_orderpriority"),
          kv("o_orderdate", $"o_orderdate".cast("date")))).as("m"))
        .select($"m.col_name".as("col_name"), $"m.v".as("v"))
        .groupBy($"col_name")
        .agg(
          count(lit(1)).as("n"),
          sum(when($"v".isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct($"v").as("n_distinct"),
          min($"v").as("min_v"),
          max($"v").as("max_v"),
          min(length($"v")).cast("long").as("min_len"),
          max(length($"v")).cast("long").as("max_len"))
        .orderBy($"col_name")
    },
    """WITH m AS (
      |  SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS v FROM orders
      |  UNION ALL
      |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', o_orderstatus FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', o_orderpriority FROM orders
      |  UNION ALL
      |  SELECT 'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM orders)
      |SELECT col_name,
      |       COUNT(*) AS n,
      |       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |       COUNT(DISTINCT v) AS n_distinct,
      |       MIN(v) AS min_v,
      |       MAX(v) AS max_v,
      |       CAST(MIN(LENGTH(v)) AS BIGINT) AS min_len,
      |       CAST(MAX(LENGTH(v)) AS BIGINT) AS max_len
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)

  /** MAD-based robust outlier census per event type (median absolute
    * deviation — the robust alternative to q_volume_anomaly's
    * mean/stddev z-score, immune to the outliers it hunts): med =
    * exact lower median, mad = lower median of |v − med|, outlier ⇔
    * |v − med| > 3·mad. Both medians are exact ELEMENTS picked by the
    * distributed rank-pick at rank ⌈n/2⌉ (the quantile_disc rule the
    * q_percentile oracle pinned) — never an interpolated or buffered
    * percentile. Residuals are one IEEE sub+abs on both engines, the
    * outlier cut one multiply+compare on identical doubles. Scale: two
    * range-sorted rank-pick jobs (groups bounded = event types) + one
    * broadcast-join count; no per-group window, no value buffering. */
  private val madOutliers = QueryDef(
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"event_type", $"value".cast("double").as("v"))
        .filter($"event_type".isNotNull && $"v".isNotNull) // SQL null-skip
      val disc = (n: Long) => Seq((n + 1) / 2) // rank ⌈n/2⌉ = quantile_disc(0.5)
      // The first pick derives the per-group counts from its own
      // persisted sort; the second pick reuses them as a cross-check — res is
      // an inner join of ev against one med per group, so its clean-row
      // counts are identical by construction.
      val (meds0, counted, _) = Scale.rankPickCounted(s,
        ev.select($"event_type".as("gk"), $"v"), "gk", "v",
        (_, n) => disc(n))
      val meds = meds0.select($"gk".as("event_type"), $"v".as("med"))
      val res = ev.join(broadcast(meds), "event_type")
        .select($"event_type".as("gk"), abs($"v" - $"med").as("r"),
          $"v", $"med")
      val mads = Scale.rankPickCounted(s,
          res.select($"gk", $"r".as("v")), "gk", "v",
          (_, n) => disc(n), precounted = Some(counted))._1
        .select($"gk".as("event_type"), $"v".as("mad"))
      res.select($"gk".as("event_type"), $"r")
        .join(broadcast(mads), "event_type")
        .join(broadcast(meds), "event_type")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), first($"med").as("med"),
          first($"mad").as("mad"),
          sum(($"r" > lit(3.0) * $"mad").cast("long")).as("n_outliers"))
        .orderBy($"event_type")
    },
    """WITH m AS (SELECT event_type, quantile_disc(value, 0.5) AS med,
      |                  COUNT(*) AS n
      |           FROM events GROUP BY 1),
      |r AS (SELECT e.event_type, ABS(e.value - m.med) AS res
      |      FROM events e JOIN m USING (event_type)),
      |d AS (SELECT event_type, quantile_disc(res, 0.5) AS mad
      |      FROM r GROUP BY 1)
      |SELECT m.event_type, m.n, m.med, d.mad,
      |       CAST(SUM(CASE WHEN r.res > 3 * d.mad THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_outliers
      |FROM r JOIN m USING (event_type) JOIN d USING (event_type)
      |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin)

  /** Skyline / Pareto frontier (Börzsönyi et al. 2001): the orders that
    * are not dominated on (o_totalprice, o_orderdate) — no other order
    * is both at least as expensive AND at least as recent, with one
    * strict. The standard multi-criteria "best tradeoff" operator.
    *
    * Algorithm: collapse to one point per distinct price (max date —
    * ties on price are dominated by the latest), then a price-descending
    * running max of date: a point survives iff its date strictly exceeds
    * every higher-priced point's date.
    *
    * Scale: the skyline-of-union property (skyline(A ∪ B) =
    * skyline(skyline(A) ∪ skyline(B))) makes this two-phase: a LOCAL
    * skyline per hash bucket (window partitioned by bucket — parallel,
    * no global sort of the input) prunes all but a sliver, then the
    * tiny survivor union takes the one global window. The global pass
    * sorts |local survivors| rows, not |orders| — the same
    * partial-then-final shape as a two-phase aggregate. Result is
    * path-independent, so the oracle states the single-pass form. */
  private val skyline = QueryDef(
    (s, dir) => {
      import s.implicits._
      val pts = Tables.orders(s, dir)
        .groupBy($"o_totalprice".as("price"))
        .agg(max(to_date($"o_orderdate")).as("d"))
      def survivors(df: org.apache.spark.sql.DataFrame, w: org.apache.spark.sql.expressions.WindowSpec) =
        df.withColumn("rm", max($"d").over(
            w.orderBy($"price".desc).rowsBetween(Window.unboundedPreceding, -1)))
          .filter($"rm".isNull || $"d" > $"rm")
          .drop("rm")
      val local = survivors(pts.withColumn("b", pmod(hash($"price"), lit(32))),
        Window.partitionBy($"b")).drop("b")
      survivors(local, Window.partitionBy())
        .orderBy($"price".desc)
    },
    """WITH p AS (SELECT o_totalprice AS price, MAX(CAST(o_orderdate AS DATE)) AS d
      |           FROM orders GROUP BY 1),
      |w AS (SELECT price, d,
      |             MAX(d) OVER (ORDER BY price DESC
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
      |      FROM p)
      |SELECT price, d FROM w WHERE rm IS NULL OR d > rm
      |ORDER BY price DESC""".stripMargin)

  /** Winsorized (clipped-tail) mean per event type — the robust-mean
    * companion to q_mad_outliers: clamp every value into its group's
    * exact [p05, p95] band, then take the deterministic r4a mean. The
    * standard tail-taming step before a mean is trusted on skewed data.
    *
    * Quantile rule (pinned empirically, the q_mad_outliers discipline
    * generalized): DuckDB's `quantile_disc(p)` picks 1-based rank
    * ⌈p·n⌉ in EXACT DECIMAL arithmetic — p = 1/20 and 19/20 make that
    * pure integer math: rank05 = (n+19)/20, rank95 = (19n+19)/20. The
    * engine side picks the same ranks via the range-sorted rank-pick
    * (no buffering percentile, no per-group window), bounds broadcast
    * back, and the clip is LEAST/GREATEST on bit-identical doubles.
    *
    * Scale: two rank-pick jobs (global range sort each, the q_percentile
    * machinery), one broadcast join, one two-phase agg — no collect of
    * row data, no single-partition window. */
  private val winsorizedMean = QueryDef(
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"event_type", $"value".cast("double").as("v"))
        .filter($"event_type".isNotNull && $"v".isNotNull) // SQL null-skip
      val r05 = (n: Long) => (n + 19) / 20
      val r95 = (n: Long) => (19 * n + 19) / 20
      // counts ride the rank-pick's own persisted sort
      val (picks, counted, _) = Scale.rankPickCounted(s,
        ev.select($"event_type".as("gk"), $"v"), "gk", "v",
        (_, n) => Seq(r05(n), r95(n)).distinct)
      val countsDf = s.createDataFrame(counted).toDF("gk", "n")
      val bounds = picks.join(broadcast(countsDf), "gk")
        .groupBy($"gk")
        .agg(
          // Column./ on longs is DOUBLE division — `div` keeps the rank
          // arithmetic integral, matching rankPickCounted's Scala ranks
          max(when($"rn" === expr("(n + 19) div 20"), $"v")).as("lo"),
          max(when($"rn" === expr("(19 * n + 19) div 20"), $"v")).as("hi"))
      ev.join(broadcast(bounds), $"event_type" === $"gk")
        .select($"event_type", $"lo", $"hi",
          least(greatest($"v", $"lo"), $"hi").as("cv"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), first($"lo").as("lo"), first($"hi").as("hi"),
          Incremental.r4a(sum($"cv".cast("decimal(28,10)")), count(lit(1)))
            .as("wmean"))
        .orderBy($"event_type")
    },
    """WITH b AS (SELECT event_type, COUNT(*) AS n,
      |                  quantile_disc(value, 0.05) AS lo,
      |                  quantile_disc(value, 0.95) AS hi
      |           FROM events GROUP BY 1)
      |SELECT e.event_type, b.n, b.lo, b.hi,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(LEAST(GREATEST(e.value, b.lo), b.hi) AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS wmean
      |FROM events e JOIN b USING (event_type)
      |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin)

  /** Lag-1 autocorrelation of the daily mean per event_type — the
    * "is yesterday predictive of today" time-series probe. Determinism
    * discipline (q_regression's): daily means are exact 4-decimal
    * doubles (r4a), quantized to exact centi-unit BIGINTs; the five
    * cross moments are decimal/HUGEINT sums (order-independent); num/
    * den magnitudes stay ≤ ~1e13 so their decimal→double casts are
    * exactly representable (< 2^53 — avoids the r3 big-unscaled-cast
    * hazard by construction), and the final sqrt/divide are single
    * correctly-rounded IEEE ops on bit-identical operands.
    * Scale: one events rollup + one tiny per-type window + one 5-row
    * aggregate — same shuffle profile as the flagship daily_avg. */
  private val autocorr = QueryDef(
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("date"))
        .agg(Incremental.r4a(sum($"value".cast("decimal(28,10)")),
          count(lit(1))).as("m"))
      val w = Window.partitionBy($"event_type").orderBy($"date")
      val q = round($"m" * 100).cast("long")
      val pairs = daily
        .select($"event_type", $"date", q.as("y"))
        .withColumn("x", lag($"y", 1).over(w))
        .filter($"x".isNotNull)
      pairs.groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum($"x".cast("decimal(38,0)")).as("sx"),
          sum($"y".cast("decimal(38,0)")).as("sy"),
          sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"),
          sum(($"x" * $"y").cast("decimal(38,0)")).as("sxy"),
          sum(($"y" * $"y").cast("decimal(38,0)")).as("syy"))
        .withColumn("num", expr("CAST(n AS DECIMAL(38,0)) * sxy - sx * sy"))
        .withColumn("denx", expr("CAST(n AS DECIMAL(38,0)) * sxx - sx * sx"))
        .withColumn("deny", expr("CAST(n AS DECIMAL(38,0)) * syy - sy * sy"))
        .select($"event_type", $"n",
          round(when($"denx" === 0 || $"deny" === 0, lit(0.0))
            .otherwise($"num".cast("double") /
              (sqrt($"denx".cast("double")) * sqrt($"deny".cast("double")))),
            4).as("r1"))
        .orderBy($"event_type")
    },
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS date,
      |         FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS m
      |  FROM events GROUP BY 1, 2),
      |pairs AS (
      |  SELECT event_type,
      |         LAG(CAST(ROUND(m * 100) AS BIGINT))
      |           OVER (PARTITION BY event_type ORDER BY date) AS x,
      |         CAST(ROUND(m * 100) AS BIGINT) AS y
      |  FROM daily),
      |mo AS (
      |  SELECT event_type, COUNT(*) AS n,
      |         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |         SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |         SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |         SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM pairs WHERE x IS NOT NULL GROUP BY 1)
      |SELECT event_type, n,
      |       ROUND(CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
      |             THEN 0.0
      |             ELSE CAST(n * sxy - sx * sy AS DOUBLE)
      |                  / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
      |                     * SQRT(CAST(n * syy - sy * sy AS DOUBLE))) END,
      |             4) AS r1
      |FROM mo ORDER BY event_type""".stripMargin)

  /** Gini coefficient of order value per market segment — inequality
    * census in EXACT integer basis points: values become cents, the
    * rank-weighted sum Σi·xᵢ and total Σx are decimal/HUGEINT, and
    * G = (2Σi·x − (n+1)Σx) / (nΣx) is emitted via one integer division
    * scaled to 1e4 — no doubles anywhere, bit-identical at any SF.
    * Ranks come from row_number over (segment, cents, orderkey): the
    * orderkey tiebreak fixes each engine's permutation, and Σi·x is
    * invariant across tie orders anyway (equal x within a tie block).
    * Scale: one shuffle to rank per segment (Spark sorts within
    * partitions — no global sort), one two-phase aggregate. */
  private val gini = QueryDef(
    (s, dir) => {
      import s.implicits._
      val cents = round($"o_totalprice" * 100).cast("long")
      val w = Window.partitionBy($"c_mktsegment")
        .orderBy($"cents", $"o_orderkey")
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .select($"c_mktsegment", $"o_orderkey", cents.as("cents"))
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).as("n"),
          sum($"cents".cast("decimal(38,0)")).as("s0"),
          sum(($"i" * $"cents").cast("decimal(38,0)")).as("s1"))
        .withColumn("gini_bp", expr(
          """CAST(CASE WHEN CAST(n AS DECIMAL(38,0)) * s0 = 0 THEN 0
            |ELSE ((2 * s1 - (CAST(n AS DECIMAL(38,0)) + 1) * s0) * 10000)
            |     div (CAST(n AS DECIMAL(38,0)) * s0) END AS BIGINT)""".stripMargin))
        .select($"c_mktsegment", $"n", $"gini_bp")
        .orderBy($"c_mktsegment")
    },
    """WITH r AS (
      |  SELECT c_mktsegment,
      |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
      |         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |           ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT), o_orderkey)
      |           AS i
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |SELECT c_mktsegment, COUNT(*) AS n,
      |       CAST(CASE WHEN COUNT(*) * SUM(CAST(cents AS HUGEINT)) = 0 THEN 0
      |            ELSE ((2 * SUM(CAST(i AS HUGEINT) * cents)
      |                   - (COUNT(*) + 1) * SUM(CAST(cents AS HUGEINT))) * 10000)
      |                 // (COUNT(*) * SUM(CAST(cents AS HUGEINT))) END AS BIGINT)
      |         AS gini_bp
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Chi-square independence census: event_type × (user_id mod 4)
    * contingency table with per-cell observed count, expected count in
    * basis points, and the cell's χ² term in basis points — all
    * integer-exact ((O·N − R·C)²·10⁴ div (N·R·C), decimal/HUGEINT, no
    * doubles). The marginals ride a partition-less window over the ≤20
    * aggregated cells (constant-size input — not a scale concern).
    * Scale: ONE two-phase hash aggregate over the fact table; the rest
    * touches ≤20 rows. */
  private val chiSquare = QueryDef(
    (s, dir) => {
      import s.implicits._
      val cells = Tables.events(s, dir)
        .groupBy($"event_type", ($"user_id" % 4).as("bucket"))
        .agg(count(lit(1)).as("o"))
      val all = Window.partitionBy()
      cells
        .withColumn("r", sum($"o").over(Window.partitionBy($"event_type")))
        .withColumn("c", sum($"o").over(Window.partitionBy($"bucket")))
        .withColumn("t", sum($"o").over(all))
        .withColumn("e_bp", expr(
          "CAST((CAST(r AS DECIMAL(38,0)) * c * 10000) div CAST(t AS DECIMAL(38,0)) AS BIGINT)"))
        .withColumn("term_bp", expr(
          """CAST(((CAST(o AS DECIMAL(38,0)) * t - CAST(r AS DECIMAL(38,0)) * c)
            |      * (CAST(o AS DECIMAL(38,0)) * t - CAST(r AS DECIMAL(38,0)) * c)
            |      * 10000)
            |     div (CAST(t AS DECIMAL(38,0)) * r * c) AS BIGINT)""".stripMargin))
        .select($"event_type", $"bucket", $"o", $"e_bp", $"term_bp")
        .orderBy($"event_type", $"bucket")
    },
    """WITH cells AS (
      |  SELECT event_type, user_id % 4 AS bucket, COUNT(*) AS o
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, bucket, o,
      |         SUM(o) OVER (PARTITION BY event_type) AS r,
      |         SUM(o) OVER (PARTITION BY bucket) AS c,
      |         SUM(o) OVER () AS t
      |  FROM cells)
      |SELECT event_type, bucket, o,
      |       CAST((CAST(r AS HUGEINT) * c * 10000) // CAST(t AS HUGEINT) AS BIGINT) AS e_bp,
      |       CAST(((CAST(o AS HUGEINT) * t - CAST(r AS HUGEINT) * c)
      |             * (CAST(o AS HUGEINT) * t - CAST(r AS HUGEINT) * c)
      |             * 10000)
      |            // (CAST(t AS HUGEINT) * r * c) AS BIGINT) AS term_bp
      |FROM m ORDER BY event_type, bucket""".stripMargin)

  /** Referential-integrity audit across the star schema's three FK
    * edges — the data-quality gate an ingest pipeline runs before
    * publishing. Each edge is a LEFT ANTI join (shuffles keys only,
    * stops at first match) counted against the fact total; the three
    * 1-row results union. 0 orphans is the expected healthy reading —
    * the query is the CHECK, not a filter. */
  private val fkCheck = QueryDef(
    (s, dir) => {
      import s.implicits._
      def audit(name: String, fact: org.apache.spark.sql.DataFrame,
                fk: String, dim: org.apache.spark.sql.DataFrame,
                pk: String): org.apache.spark.sql.DataFrame = {
        val total = fact.agg(count(lit(1)).as("n_rows"))
        val orphans = fact.join(dim, col(fk) === col(pk), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        total.crossJoin(orphans).select(lit(name).as("fk"),
          $"n_rows", $"n_orphans")
      }
      audit("lineitem.orderkey", Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey")
        .unionByName(audit("lineitem.partkey", Tables.lineitem(s, dir),
          "l_partkey", Tables.part(s, dir), "p_partkey"))
        .unionByName(audit("orders.custkey", Tables.orders(s, dir),
          "o_custkey", Tables.customer(s, dir), "c_custkey"))
        .orderBy($"fk")
    },
    """SELECT 'lineitem.orderkey' AS fk,
      |       (SELECT COUNT(*) FROM lineitem) AS n_rows,
      |       (SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS
      |         (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_orphans
      |UNION ALL
      |SELECT 'lineitem.partkey',
      |       (SELECT COUNT(*) FROM lineitem),
      |       (SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS
      |         (SELECT 1 FROM part WHERE p_partkey = l_partkey))
      |UNION ALL
      |SELECT 'orders.custkey',
      |       (SELECT COUNT(*) FROM orders),
      |       (SELECT COUNT(*) FROM orders WHERE NOT EXISTS
      |         (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
      |ORDER BY fk""".stripMargin)

  /** Two-sample Kolmogorov–Smirnov distance (binned) between the event
    * values of two user cohorts (even vs odd user_id) — the
    * distribution-drift detector. ECDFs are compared on a fixed
    * value grid (width-10 bins): at 100 TB an exact KS needs a global
    * sort over every distinct double, while the binned statistic needs
    * ONE hash aggregate + a window over ≤|grid| rows; the bin width is
    * the documented resolution. D is emitted in exact integer basis
    * points via cross-multiplication (|c0·n1 − c1·n0|·10⁴ div n0·n1)
    * — no IEEE division inside the max. */
  private val ksTest = QueryDef(
    (s, dir) => {
      import s.implicits._
      val binned = Tables.events(s, dir)
        // non-finite values can't bin (ANSI cast of ±Inf/NaN to BIGINT
        // throws) and carry no distributional information — excluded,
        // like nulls, on both engines
        .filter(!isnan($"value") && !$"value".isin(
          Double.PositiveInfinity, Double.NegativeInfinity))
        .select((floor($"value" / 10).cast("long") * 10).as("bin"),
          ($"user_id" % 2).as("g"))
        .groupBy($"bin")
        .agg(sum(when($"g" === 0, 1L).otherwise(0L)).as("c0"),
          sum(when($"g" === 1, 1L).otherwise(0L)).as("c1"))
      // ≤ ~60 grid rows — the partition-less windows run over the
      // aggregated grid, never the fact table
      val w = Window.orderBy($"bin")
      val tot = Window.partitionBy()
      val perBin = binned
        .withColumn("f0", sum($"c0").over(w))
        .withColumn("f1", sum($"c1").over(w))
        .withColumn("n0", sum($"c0").over(tot))
        .withColumn("n1", sum($"c1").over(tot))
        // KS is undefined when either cohort is empty — emit no rows
        // instead of a divide-by-zero (degenerate-input contract)
        .filter($"n0" > 0 && $"n1" > 0)
        .withColumn("bp", expr(
          """(abs(CAST(f0 AS DECIMAL(38,0)) * n1
            |     - CAST(f1 AS DECIMAL(38,0)) * n0) * 10000)
            |div (CAST(n0 AS DECIMAL(38,0)) * n1)""".stripMargin))
      perBin
        .withColumn("mx", max($"bp").over(tot))
        .filter($"bp" === $"mx")
        .groupBy($"n0", $"n1")
        .agg(min($"bin").as("at_bin"),
          max($"bp").cast("long").as("ks_bp"))
        .select($"ks_bp", $"at_bin", $"n0", $"n1")
    },
    """WITH binned AS (
      |  SELECT CAST(FLOOR(value / 10) AS BIGINT) * 10 AS bin,
      |         SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
      |         SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
      |  FROM events WHERE isfinite(value) GROUP BY 1),
      |cum AS (
      |  SELECT bin,
      |         SUM(c0) OVER (ORDER BY bin) AS f0,
      |         SUM(c1) OVER (ORDER BY bin) AS f1,
      |         SUM(c0) OVER () AS n0, SUM(c1) OVER () AS n1
      |  FROM binned),
      |bp AS (
      |  SELECT bin, n0, n1,
      |         (ABS(CAST(f0 AS HUGEINT) * n1 - CAST(f1 AS HUGEINT) * n0)
      |          * 10000) // (CAST(n0 AS HUGEINT) * n1) AS bp
      |  FROM cum WHERE n0 > 0 AND n1 > 0)
      |SELECT CAST(MAX(bp) AS BIGINT) AS ks_bp, MIN(bin) AS at_bin,
      |       CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1
      |FROM bp WHERE bp = (SELECT MAX(bp) FROM bp) GROUP BY n0, n1""".stripMargin)

  /** Population Stability Index between the same two cohorts over a
    * 12-bucket value grid — the model-monitoring drift score. Bucket
    * shares use add-one smoothing (never log 0); the per-bucket counts
    * are exact integers, so both engines evaluate ln on bit-identical
    * ratios (libm log differs from the true value by ≤1 ulp — orders
    * of magnitude below the 4-decimal emission). One fact-table hash
    * aggregate; everything after runs on 12 rows. */
  private val psi = QueryDef(
    (s, dir) => {
      import s.implicits._
      val binned = Tables.events(s, dir)
        .select(least(floor($"value" / 50).cast("long"), lit(11L)).as("bucket"),
          ($"user_id" % 2).as("g"))
        .groupBy($"bucket")
        .agg(sum(when($"g" === 0, 1L).otherwise(0L)).as("c0"),
          sum(when($"g" === 1, 1L).otherwise(0L)).as("c1"))
      val tot = Window.partitionBy()
      val nb = count(lit(1)).over(tot)
      binned
        .withColumn("p", ($"c0" + 1).cast("double") /
          (sum($"c0").over(tot) + nb).cast("double"))
        .withColumn("q", ($"c1" + 1).cast("double") /
          (sum($"c1").over(tot) + nb).cast("double"))
        .withColumn("term", ($"p" - $"q") * log($"p" / $"q"))
        .select($"bucket", $"c0", $"c1", round($"term", 4).as("term_r4"))
        .orderBy($"bucket")
    },
    """WITH binned AS (
      |  SELECT LEAST(CAST(FLOOR(value / 50) AS BIGINT), 11) AS bucket,
      |         SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
      |         SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
      |  FROM events GROUP BY 1),
      |sm AS (
      |  SELECT bucket, c0, c1,
      |         CAST(c0 + 1 AS DOUBLE) /
      |           CAST(SUM(c0) OVER () + COUNT(*) OVER () AS DOUBLE) AS p,
      |         CAST(c1 + 1 AS DOUBLE) /
      |           CAST(SUM(c1) OVER () + COUNT(*) OVER () AS DOUBLE) AS q
      |  FROM binned)
      |SELECT bucket, CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1,
      |       ROUND((p - q) * LN(p / q), 4) AS term_r4
      |FROM sm ORDER BY bucket""".stripMargin)

  /** Exact mode per group with a pinned tie rule (highest count, then
    * lowest bucket) — no engine mode() whose tie choice is unspecified:
    * count per (group, bucket), WindowGroupLimit rank-1 pick. */
  private val mode_ = QueryDef(
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type")
        .orderBy($"n".desc, $"bucket")
      Tables.events(s, dir)
        .groupBy($"event_type", floor($"value" / 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" === 1)
        .select($"event_type", $"bucket".as("mode_bucket"), $"n")
        .orderBy($"event_type")
    },
    """SELECT event_type, bucket AS mode_bucket, n FROM (
      |  SELECT event_type, CAST(FLOOR(value / 10) AS BIGINT) AS bucket,
      |         COUNT(*) AS n,
      |         ROW_NUMBER() OVER (PARTITION BY event_type
      |           ORDER BY COUNT(*) DESC, CAST(FLOOR(value / 10) AS BIGINT))
      |           AS rk
      |  FROM events GROUP BY 1, 2)
      |WHERE rk = 1 ORDER BY event_type""".stripMargin)

  /** Benford first-digit census over order totals — the classic
    * fabricated-data smell test. The first significant digit comes from
    * the exact cents integer's decimal rendering (identical int→string
    * on both engines — no float log10 near power-of-ten boundaries);
    * observed shares and Benford's expected log10(1+1/d) both emit in
    * basis points. One fact aggregate over 9 digit groups. */
  private val benford = QueryDef(
    (s, dir) => {
      import s.implicits._
      val digit = substring(round($"o_totalprice" * 100).cast("long")
        .cast("string"), 1, 1).cast("long")
      val tot = Window.partitionBy()
      Tables.orders(s, dir)
        .groupBy(digit.as("digit"))
        .agg(count(lit(1)).as("n"))
        .withColumn("pct_bp", expr(
          "CAST((n * 10000) div (sum(n) OVER ()) AS BIGINT)"))
        .withColumn("benford_bp",
          round(log(10.0, lit(1.0) + lit(1.0) / $"digit".cast("double"))
            * 10000).cast("long"))
        .orderBy($"digit")
    },
    """SELECT digit, COUNT(*) AS n,
      |       CAST((COUNT(*) * 10000) // (SUM(COUNT(*)) OVER ()) AS BIGINT)
      |         AS pct_bp,
      |       CAST(ROUND(LOG10(1.0 + 1.0 / digit) * 10000) AS BIGINT)
      |         AS benford_bp
      |FROM (SELECT CAST(SUBSTRING(CAST(CAST(ROUND(o_totalprice * 100)
      |               AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |      FROM orders)
      |GROUP BY digit ORDER BY digit""".stripMargin)

  /** Two-proportion z-test between user cohorts (even vs odd user_id):
    * did cohort B convert (≥1 purchase) at a different rate — the
    * experimentation primitive. All counts are exact integers (distinct
    * users, converted users per cohort); p̂s and the pooled-variance z
    * are a short fixed chain of IEEE ops on identical operands, rounded
    * to 4 decimals. One distinct-user aggregate + one 2-row rollup. */
  /** Difference-in-differences estimator (the quasi-experimental twin
    * of q_ab_test's two-proportion z): treatment = odd user_id, period
    * split at 2024-01-16, outcome = event value. Per event type:
    *   did = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)
    * Every mean is the r4a exact-numerator form (decimal sum → exact
    * 1e-6-unit BIGINT → one IEEE division → half-up to 4 decimals), so
    * all four operands are bit-identical doubles on both engines and
    * the two subtraction chains are fully-specified IEEE ops — the did
    * column is engine-exact without any further rounding. One grouped
    * aggregate over (type, treated, post) = |types|·4 cells, then a
    * tiny conditional pivot; the fact table shuffles once. */
  private val diffInDiff = QueryDef(
    (s, dir) => {
      import s.implicits._
      val cells = Tables.events(s, dir)
        .select($"event_type",
          ($"user_id" % 2 === 1).as("treated"),
          (to_date($"ts") >= lit("2024-01-16")).as("post"),
          $"value")
        .groupBy($"event_type", $"treated", $"post")
        .agg(Incremental.r4a(sum($"value".cast("decimal(28,10)")),
          count(lit(1))).as("m"), count(lit(1)).as("n"))
      def cell(t: Boolean, p: Boolean, c: String) =
        max(when($"treated" === t && $"post" === p, col(c)))
      cells.groupBy($"event_type")
        .agg(
          cell(false, false, "m").as("ctrl_pre"),
          cell(false, true, "m").as("ctrl_post"),
          cell(true, false, "m").as("treat_pre"),
          cell(true, true, "m").as("treat_post"),
          sum($"n").as("n_events"))
        .select($"event_type", $"ctrl_pre", $"ctrl_post",
          $"treat_pre", $"treat_post", $"n_events",
          (($"treat_post" - $"treat_pre") - ($"ctrl_post" - $"ctrl_pre"))
            .as("did"))
        .orderBy($"event_type")
    },
    """WITH cells AS (
      |  SELECT event_type,
      |         user_id % 2 = 1 AS treated,
      |         CAST(ts AS DATE) >= DATE '2024-01-16' AS post,
      |         FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 6)
      |                   AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE)
      |               / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS m,
      |         COUNT(*) AS n
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT event_type,
      |       MAX(CASE WHEN NOT treated AND NOT post THEN m END) AS ctrl_pre,
      |       MAX(CASE WHEN NOT treated AND post THEN m END) AS ctrl_post,
      |       MAX(CASE WHEN treated AND NOT post THEN m END) AS treat_pre,
      |       MAX(CASE WHEN treated AND post THEN m END) AS treat_post,
      |       CAST(SUM(n) AS BIGINT) AS n_events,
      |       (MAX(CASE WHEN treated AND post THEN m END)
      |        - MAX(CASE WHEN treated AND NOT post THEN m END))
      |       - (MAX(CASE WHEN NOT treated AND post THEN m END)
      |          - MAX(CASE WHEN NOT treated AND NOT post THEN m END)) AS did
      |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin)

  private val abTest = QueryDef(
    (s, dir) => {
      import s.implicits._
      // conversion = a HIGH-VALUE purchase (≥150): the raw purchase
      // event is near-universal in the fixture (67 events/user), which
      // degenerates the test to p̂=1 where the pooled variance — hence
      // z's denominator — is exactly 0 (and ANSI mode correctly throws
      // on 0-divisor doubles); the guard below still emits NULL z for
      // degenerate cohorts rather than relying on the data
      val perUser = Tables.events(s, dir)
        .groupBy($"user_id")
        .agg(max(when($"event_type" === "purchase" && $"value" >= 150.0,
          1L).otherwise(0L)).as("converted"))
      val cohorts = perUser
        .groupBy(($"user_id" % 2).as("cohort"))
        .agg(count(lit(1)).as("n"), sum($"converted").as("c"))
      val a = cohorts.filter($"cohort" === 0)
        .select($"n".as("n0"), $"c".as("c0"))
      val b = cohorts.filter($"cohort" === 1)
        .select($"n".as("n1"), $"c".as("c1"))
      a.crossJoin(b)
        .withColumn("p0", $"c0".cast("double") / $"n0".cast("double"))
        .withColumn("p1", $"c1".cast("double") / $"n1".cast("double"))
        .withColumn("pp", ($"c0" + $"c1").cast("double") /
          ($"n0" + $"n1").cast("double"))
        .withColumn("den", sqrt($"pp" * (lit(1.0) - $"pp") *
          (lit(1.0) / $"n0".cast("double") +
           lit(1.0) / $"n1".cast("double"))))
        .select($"n0", $"c0", $"n1", $"c1",
          round($"p0" - $"p1", 4).as("lift_r4"),
          when($"den" === 0.0, lit(null).cast("double"))
            .otherwise(round(($"p0" - $"p1") / $"den", 4)).as("z_r4"))
    },
    """WITH pu AS (
      |  SELECT user_id,
      |         MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
      |             THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1),
      |co AS (
      |  SELECT user_id % 2 AS cohort, COUNT(*) AS n,
      |         CAST(SUM(conv) AS BIGINT) AS c
      |  FROM pu GROUP BY 1),
      |ab AS (
      |  SELECT a.n AS n0, a.c AS c0, b.n AS n1, b.c AS c1
      |  FROM (SELECT * FROM co WHERE cohort = 0) a,
      |       (SELECT * FROM co WHERE cohort = 1) b),
      |d AS (
      |  SELECT n0, c0, n1, c1,
      |         CAST(c0 AS DOUBLE) / n0 AS p0, CAST(c1 AS DOUBLE) / n1 AS p1,
      |         SQRT((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
      |              * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
      |              * (1.0 / CAST(n0 AS DOUBLE)
      |                 + 1.0 / CAST(n1 AS DOUBLE))) AS den
      |  FROM ab)
      |SELECT n0, c0, n1, c1,
      |       ROUND(p0 - p1, 4) AS lift_r4,
      |       CASE WHEN den = 0.0 THEN NULL
      |            ELSE ROUND((p0 - p1) / den, 4) END AS z_r4
      |FROM d""".stripMargin)

  /** Ordered string aggregation (LISTAGG/string_agg) with an explicit
    * deterministic order — top-3 orders by value per priority class,
    * joined into one CSV cell. Spark's collect_list order is shuffle-
    * dependent, so the list is SORTED after collection (struct sort on
    * the same keys the oracle's WITHIN-GROUP order uses); the top-3 cut
    * is WindowGroupLimit, not a global sort. */
  private val listagg = QueryDef(
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_orderpriority")
        .orderBy($"o_totalprice".desc, $"o_orderkey".desc)
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .groupBy($"o_orderpriority")
        .agg(
          array_join(
            transform(
              reverse(sort_array(collect_list(
                struct($"o_totalprice", $"o_orderkey")))),
              x => x.getField("o_orderkey").cast("string")), ",")
            .as("top_orders"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    },
    """SELECT o_orderpriority,
      |       string_agg(CAST(o_orderkey AS VARCHAR), ','
      |         ORDER BY o_totalprice DESC, o_orderkey DESC) AS top_orders,
      |       COUNT(*) AS n
      |FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |           ORDER BY o_totalprice DESC, o_orderkey DESC) AS rk
      |  FROM orders)
      |WHERE rk <= 3
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** Spark 4 VARIANT ingestion — semi-structured columns without a
    * declared schema: parse_json → VARIANT, typed extraction via
    * variant_get, plus is_variant_null/variant typeof probes, then an
    * aggregate over the extracted value. VARIANT is Spark's answer to
    * the open-schema column (shredded binary encoding, typed lazy
    * access — the engine feature a semi-structured 100 TB corpus
    * wants); the oracle replays the same extractions with DuckDB's
    * JSON operators — identical values, engine-native idioms on each
    * side. The variant itself is never emitted (its binary encoding is
    * engine-internal). */
  private val variantJson = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .select($"event_type",
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"k").as("sum_k"),
          min($"k").as("min_k"), max($"k").as("max_k"),
          sum(when($"k".isNull, 1L).otherwise(0L)).as("n_null"))
        .orderBy($"event_type")
    },
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |         AS BIGINT) AS sum_k,
      |       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |       CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_null
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Case-insensitive semantics via Spark 4 COLLATE (UTF8_LCASE)
    * against uppercased probe values — the collation-aware equality/
    * grouping surface. The oracle replays with explicit lower() (the
    * collation-free equivalent under ASCII data); counts are exact. */
  private val collation = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", $"lang", $"source")
        .withColumn("is_en", expr(
          "CAST(collate(lang, 'UTF8_LCASE') = collate('EN', 'UTF8_LCASE') AS INT)"))
        // group under the collation (case-insensitive key equality) but
        // EMIT a binary-normalized lower() value — the collated string
        // keeps its original case and sorts case-insensitively, both of
        // which would diverge from the oracle's binary world
        .groupBy(expr("collate(upper(source), 'UTF8_LCASE')").as("src_c"))
        .agg(count(lit(1)).as("n"), sum($"is_en").cast("long").as("n_en"))
        .select(lower($"src_c".cast("string")).as("source_ci"), $"n", $"n_en")
        .orderBy($"source_ci")
    },
    """SELECT lower(upper(source)) AS source_ci, COUNT(*) AS n,
      |       CAST(SUM(CASE WHEN lower(lang) = 'en' THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_en
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)

  /** k-anonymity census — the privacy audit a training-data release
    * runs before shipping: group the table by its quasi-identifier
    * tuple (nation, market segment, account-balance band) and report,
    * for each anonymity level k, how many QI groups and rows sit at
    * that level; any row in a group with k < 5 is re-identifiable
    * under the standard k≥5 policy. The balance band is
    * floor(acctbal/1000) — ONE identically-written double divide +
    * floor on both engines (band boundaries at exact multiples of
    * 1000.0 are measure-zero in the fixture).
    *
    * Scale: two chained two-phase hash aggregates — the first shuffles
    * only the narrow QI tuple, the second shuffles |distinct k| rows
    * (≤ group-size range, tiny). No join, no window, no all-pairs;
    * at 100 TB this is exactly the shape Spark's partial aggregation
    * was built for. */
  private val kAnonymity = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .select($"c_nationkey", $"c_mktsegment",
          floor($"c_acctbal" / 1000.0).cast("long").as("bal_band"))
        .groupBy($"c_nationkey", $"c_mktsegment", $"bal_band")
        .agg(count(lit(1)).as("k"))
        .groupBy($"k")
        .agg(count(lit(1)).as("n_groups"), sum($"k").as("n_rows"))
        .select($"k", $"n_groups", $"n_rows", ($"k" < 5).as("at_risk"))
        .orderBy($"k")
    },
    """WITH qi AS (
      |  SELECT c_nationkey, c_mktsegment,
      |         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band
      |  FROM customer),
      |grp AS (SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*) AS k
      |        FROM qi GROUP BY 1, 2, 3)
      |SELECT k, COUNT(*) AS n_groups, CAST(SUM(k) AS BIGINT) AS n_rows,
      |       k < 5 AS at_risk
      |FROM grp GROUP BY k ORDER BY k""".stripMargin)

  /** l-diversity census — k-anonymity's companion release gate: a QI
    * group can be large (k-anonymous) yet still disclose the sensitive
    * attribute if every member shares one value. Here QI = (nation,
    * balance band), sensitive = market segment; l(group) = exact
    * COUNT(DISTINCT segment) within the group, and the output is the
    * census of groups by diversity level with l = 1 flagged (full
    * disclosure). Same band arithmetic as q_k_anonymity.
    *
    * Scale: the distinct is bounded by the sensitive attribute's
    * cardinality (|segments| = 5), so the first aggregate shuffles
    * (QI, segment) pairs — at most |QI|·|segments| rows after the
    * map-side partial — then two tiny keyed aggregates. No expand, no
    * join; safe at any corpus size. */
  private val lDiversity = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .select($"c_nationkey",
          floor($"c_acctbal" / 1000.0).cast("long").as("bal_band"),
          $"c_mktsegment")
        .groupBy($"c_nationkey", $"bal_band")
        .agg(count(lit(1)).as("k"),
          countDistinct($"c_mktsegment").as("l"))
        .groupBy($"l")
        .agg(count(lit(1)).as("n_groups"), sum($"k").as("n_rows"))
        .select($"l", $"n_groups", $"n_rows", ($"l" === 1).as("disclosed"))
        .orderBy($"l")
    },
    """WITH qi AS (
      |  SELECT c_nationkey,
      |         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
      |         c_mktsegment
      |  FROM customer),
      |grp AS (SELECT c_nationkey, bal_band, COUNT(*) AS k,
      |               COUNT(DISTINCT c_mktsegment) AS l
      |        FROM qi GROUP BY 1, 2)
      |SELECT l, COUNT(*) AS n_groups, CAST(SUM(k) AS BIGINT) AS n_rows,
      |       l = 1 AS disclosed
      |FROM grp GROUP BY l ORDER BY l""".stripMargin)

  val defs: Seq[(String, QueryDef)] = Seq(
    "q_k_anonymity" -> kAnonymity,
    "q_l_diversity" -> lDiversity,
    "q_variant_json" -> variantJson,
    "q_collation" -> collation,
    "q_ab_test" -> abTest,
    "q_diff_in_diff" -> diffInDiff,
    "q_listagg" -> listagg,
    "q_fk_check" -> fkCheck,
    "q_ks_test" -> ksTest,
    "q_psi" -> psi,
    "q_mode" -> mode_,
    "q_benford" -> benford,
    "q_autocorr" -> autocorr,
    "q_gini" -> gini,
    "q_chi_square" -> chiSquare,
    "q_winsorized_mean" -> winsorizedMean,
    "q_skyline" -> skyline,
    "q_mad_outliers" -> madOutliers,
    "q_profile" -> profile,
    "q_grouping_sets" -> groupingSets,
    "q_map_funcs" -> mapFuncs,
    "q_subquery" -> subquery,
    "q_recursive_cte" -> recursiveCte,
    "q_sql_udf" -> sqlUdf,
    "q_sql_script" -> sqlScript,
    "q_sql_pipe" -> sqlPipe,
    "q_lateral" -> lateral,
    "q_scan_project" -> scanProject,
    "q_filter_pred" -> filterPred,
    "q_agg_basic" -> aggBasic,
    "q_agg_conditional" -> aggConditional,
    "q_agg_distinct" -> aggDistinct,
    "q_quantile_approx" -> quantileApprox,
    "q_agg_approx" -> aggApprox,
    "q_hll_union" -> hllUnion,
    "q_rollup" -> rollup,
    "q_cube" -> cube,
    "q_percentile" -> percentile,
    "q_corr" -> corr_,
    "q_regression" -> regression,
    "q_histogram" -> histogram,
    "q_pivot" -> pivot,
    "q_unpivot" -> unpivot,
    "q_sort_multi" -> sortMulti,
    "q_topk" -> topk,
    "q_union_all" -> unionAll,
    "q_union_distinct" -> unionDistinct,
    "q_intersect_except" -> intersectExcept,
    "q_string_funcs" -> stringFuncs,
    "q_date_funcs" -> dateFuncs,
    "q_math_funcs" -> mathFuncs,
    "q_null_funcs" -> nullFuncs,
    "q_try_funcs" -> tryFuncs,
    "q_json_extract" -> jsonExtract,
    "q_xml_extract" -> xmlExtract,
    "q_array_funcs" -> arrayFuncs)
}
