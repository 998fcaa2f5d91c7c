package graft.ops

import graft.QueryDef
import graft.util.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join inventory (SURVEY.md §2.3). The reference has no two-table join —
  * its only cross-table dataflow is the scalar watermark lookup
  * (energy_etl.py:41-43, covered in Incremental.scala) — so these are the
  * EXT generalization over the star-schema fixtures.
  *
  * Scale notes (100 TB):
  *  - fact⋈fact (lineitem⋈orders) shuffles on the join key — at scale,
  *    co-locate via bucketing on orderkey; AQE handles skew splitting.
  *  - dim tables (region/nation, and customer up to ~GB) are broadcast —
  *    explicit `broadcast()` hints below keep the plan shuffle-free on
  *    the dim side regardless of stats.
  *  - the non-equi range join keeps a broadcast nested-loop ONLY because
  *    one side is pre-filtered to a small set; never BNLJ two fact tables.
  *  - the as-of join is equi on the key + range on time: Spark plans a
  *    shuffled join on the equi key, then row_number(1) picks the latest
  *    match — the standard scalable as-of pattern (no driver collection).
  */
object Joins {

  private val joinInner = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 4).as("rev"))
        .orderBy($"c_mktsegment")
    },
    """SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(o_totalprice),4) AS rev
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  /** 5-table star join; dims broadcast so only the fact tables shuffle. */
  private val joinMultiway = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.spread(Tables.lineitem(s, dir), "l_orderkey")
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        // decimal accumulation of the per-row double product: with the
        // fanned-out scan each group merges many partials, so the sum
        // must not depend on merge order (Incremental.r4s discipline)
        .agg(
          Incremental.r4s(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .cast("decimal(28,10)"))).as("rev"),
          count(lit(1)).as("n"))
        .orderBy($"r_name", $"n_name")
    },
    """SELECT r_name, n_name,
      |       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 4) AS DOUBLE) AS rev,
      |       COUNT(*) AS n
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)

  private val joinOuter = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey", $"c_name")
        .agg(
          count($"o_orderkey").as("n_orders"),
          coalesce(round(sum($"o_totalprice"), 4), lit(0.0)).as("total"))
        .orderBy($"c_custkey")
    },
    """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
      |       COALESCE(ROUND(SUM(o_totalprice),4), 0.0) AS total
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin)

  private val joinSemi = QueryDef(
    (s, dir) => {
      import s.implicits._
      val bigOrders = Tables.orders(s, dir).filter($"o_totalprice" > 450000)
      Tables.customer(s, dir)
        .join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_mktsegment")
        .orderBy($"c_custkey")
    },
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin)

  private val joinAnti = QueryDef(
    (s, dir) => {
      import s.implicits._
      val bigOrders = Tables.orders(s, dir).filter($"o_totalprice" > 450000)
      Tables.customer(s, dir)
        .join(bigOrders, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_mktsegment")
        .orderBy($"c_custkey")
    },
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin)

  /** Non-equi (range) join: lineitem prices vs a small filtered part slice.
    * The small side is broadcast → nested-loop stays bounded; at 100 TB the
    * same query runs as broadcast-NLJ as long as the build side fits, else
    * bin the ranges into an equi prefix (documented, not needed here). */
  private val joinRange = QueryDef(
    (s, dir) => {
      import s.implicits._
      val p = Tables.part(s, dir).filter($"p_size" === 25)
        .select($"p_partkey", $"p_retailprice")
      val l = Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= to_timestamp(lit("1997-01-01 00:00:00")) &&
          $"l_shipdate" < to_timestamp(lit("1997-07-01 00:00:00")))
        .select($"l_extendedprice")
      l.join(broadcast(p),
          $"l_extendedprice" >= $"p_retailprice" - 200 &&
          $"l_extendedprice" < $"p_retailprice" + 200)
        .groupBy($"p_partkey")
        .agg(count(lit(1)).as("n"), round(sum($"l_extendedprice"), 4).as("s"))
        .orderBy($"p_partkey")
    },
    """SELECT p_partkey, COUNT(*) AS n, ROUND(SUM(l_extendedprice),4) AS s
      |FROM lineitem JOIN part
      |  ON l_extendedprice >= p_retailprice - 200
      | AND l_extendedprice <  p_retailprice + 200
      |WHERE p_size = 25
      |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
      |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin)

  /** As-of join: latest order at-or-before each event's timestamp for
    * that user, via the scalable union+window plan (SURVEY.md §2.3):
    * tag both inputs, union, one shuffle+sort per user, and carry the
    * most recent order struct with last(ignoreNulls) over the running
    * frame. LINEAR in |events|+|orders| — the join-then-rank
    * formulation first materializes every (event, earlier-order) pair,
    * which is quadratic per hot user at 100 TB.
    * Tie semantics (mirrored exactly in the oracle's correlated LIMIT 1,
    * not DuckDB ASOF whose tie choice is unspecified): at equal
    * timestamp the order is visible to the event (inclusive ≤, orders
    * sort first); among same-timestamp orders the highest o_orderkey
    * wins (sort asc + last). */
  private val joinAsof = QueryDef(
    (s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
        .select($"user_id".as("u"), $"ts".as("t"), lit(1).as("is_event"),
          $"event_id", lit(null).cast("struct<d:timestamp,k:bigint>").as("ord"))
      val o = Tables.orders(s, dir)
        // SQL join semantics: a null custkey/orderdate order can never
        // match any event (`u = ... AND t <= ...` is never true on
        // null), but the union+window formulation would land it in the
        // null-key partition / at the partition head where a null-key
        // event could pick it up — drop such orders before the union
        .filter($"o_custkey".isNotNull && $"o_orderdate".isNotNull)
        .select($"o_custkey".as("u"), $"o_orderdate".as("t"),
          lit(0).as("is_event"), lit(null).cast("long").as("event_id"),
          struct($"o_orderdate".as("d"), $"o_orderkey".as("k")).as("ord"))
      val w = Window.partitionBy($"u")
        .orderBy($"t", $"is_event", $"ord.k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.unionByName(o)
        .withColumn("last_ord", last($"ord", ignoreNulls = true).over(w))
        .filter($"is_event" === 1)
        .select($"event_id", $"u".as("user_id"),
          $"last_ord.k".as("asof_orderkey"),
          to_date($"last_ord.d").as("asof_date"))
        .orderBy($"event_id")
    },
    """WITH m AS (
      |  SELECT e.event_id, e.user_id,
      |         (SELECT o.o_orderkey FROM orders o
      |          WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |          ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS asof_orderkey
      |  FROM events e)
      |SELECT m.event_id, m.user_id, m.asof_orderkey,
      |       CAST(o.o_orderdate AS DATE) AS asof_date
      |FROM m LEFT JOIN orders o ON m.asof_orderkey = o.o_orderkey
      |ORDER BY m.event_id""".stripMargin)

  /** FORWARD as-of join — "next order at-or-after the event" (the
    * lead-time / time-to-conversion direction; backward as-of above is
    * the lookup direction). Same linear union+window plan, scanned in
    * REVERSE time: running `last(ignoreNulls)` over t-descending order
    * is the nearest following order. Tie rules mirror the oracle's
    * `ORDER BY o_orderdate, o_orderkey LIMIT 1`: orders sort before
    * events at equal t (>= is inclusive) and same-date orders sort by
    * key DESC so the running last lands on the smallest key. */
  private val joinAsofFwd = QueryDef(
    (s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
        .select($"user_id".as("u"), $"ts".as("t"), lit(1).as("is_event"),
          $"event_id", lit(null).cast("struct<d:timestamp,k:bigint>").as("ord"))
      val o = Tables.orders(s, dir)
        .filter($"o_custkey".isNotNull && $"o_orderdate".isNotNull)
        .select($"o_custkey".as("u"), $"o_orderdate".as("t"),
          lit(0).as("is_event"), lit(null).cast("long").as("event_id"),
          struct($"o_orderdate".as("d"), $"o_orderkey".as("k")).as("ord"))
      val w = Window.partitionBy($"u")
        .orderBy($"t".desc, $"is_event", $"ord.k".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.unionByName(o)
        .withColumn("next_ord",
          // a null-ts event matches nothing in the oracle (`>= e.ts` is
          // never true on null), but in the t-DESCENDING window it sorts
          // NULLS LAST — after every order — and the running last would
          // hand it one. Row-local guard keeps the two engines aligned
          // if events.ts is ever nullable (ADVICE r9 #2). The backward
          // direction needs none: asc NULLS FIRST puts null-ts events
          // at the partition head where no order precedes them.
          when($"t".isNotNull, last($"ord", ignoreNulls = true).over(w)))
        .filter($"is_event" === 1)
        .select($"event_id", $"u".as("user_id"),
          $"next_ord.k".as("next_orderkey"),
          to_date($"next_ord.d").as("next_date"))
        .orderBy($"event_id")
    },
    """WITH m AS (
      |  SELECT e.event_id, e.user_id,
      |         (SELECT o.o_orderkey FROM orders o
      |          WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
      |          ORDER BY o.o_orderdate, o.o_orderkey LIMIT 1) AS next_orderkey
      |  FROM events e)
      |SELECT m.event_id, m.user_id, m.next_orderkey,
      |       CAST(o.o_orderdate AS DATE) AS next_date
      |FROM m LEFT JOIN orders o ON m.next_orderkey = o.o_orderkey
      |ORDER BY m.event_id""".stripMargin)

  /** NEAREST as-of join — the third direction of the as-of family
    * (backward = lookup, forward = lead-time, nearest = closest in
    * either direction; the pandas merge_asof direction set). BOTH
    * candidate passes run over ONE union and ONE hash partitioning on
    * the user key: the backward window sorts t-ascending, the forward
    * t-descending — Catalyst plans one Exchange and two Sorts, not two
    * shuffles. The pick is then row-local arithmetic on floored-second
    * epochs (exact BIGINTs both engines): smaller distance wins,
    * exact-tie → the BACKWARD order (the already-observed one — the
    * causally safe default), per-direction order ties inherit the
    * parents' rules (backward: highest key; forward: lowest key).
    * Linear like its parents; the join-then-rank form would be
    * quadratic per hot user. */
  private val joinAsofNear = QueryDef(
    (s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
        .select($"user_id".as("u"), $"ts".as("t"), lit(1).as("is_event"),
          $"event_id", lit(null).cast("struct<d:timestamp,k:bigint>").as("ord"))
      val o = Tables.orders(s, dir)
        .filter($"o_custkey".isNotNull && $"o_orderdate".isNotNull)
        .select($"o_custkey".as("u"), $"o_orderdate".as("t"),
          lit(0).as("is_event"), lit(null).cast("long").as("event_id"),
          struct($"o_orderdate".as("d"), $"o_orderkey".as("k")).as("ord"))
      val wb = Window.partitionBy($"u")
        .orderBy($"t", $"is_event", $"ord.k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy($"u")
        .orderBy($"t".desc, $"is_event", $"ord.k".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val es = $"t".cast("long")
      e.unionByName(o)
        .withColumn("back", last($"ord", ignoreNulls = true).over(wb))
        // same null-ts guard as joinAsofFwd: desc NULLS LAST would let a
        // null-ts event pick up an order the oracle's correlated
        // predicate never matches (ADVICE r9 #2)
        .withColumn("fwd",
          when($"t".isNotNull, last($"ord", ignoreNulls = true).over(wf)))
        .filter($"is_event" === 1)
        .withColumn("db", es - $"back.d".cast("long"))
        .withColumn("df", $"fwd.d".cast("long") - es)
        .withColumn("pick_back",
          $"fwd".isNull || ($"back".isNotNull && $"db" <= $"df"))
        .select($"event_id", $"u".as("user_id"),
          when($"pick_back", $"back.k").otherwise($"fwd.k")
            .as("near_orderkey"),
          to_date(when($"pick_back", $"back.d").otherwise($"fwd.d"))
            .as("near_date"),
          when($"back".isNull && $"fwd".isNull, lit(null).cast("string"))
            .otherwise(when($"pick_back", lit("b")).otherwise(lit("f")))
            .as("direction"))
        .orderBy($"event_id")
    },
    """WITH m AS (
      |  SELECT e.event_id, e.user_id,
      |         CAST(FLOOR(epoch(e.ts)) AS BIGINT) AS es,
      |         (SELECT o.o_orderkey FROM orders o
      |          WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |          ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS bk,
      |         (SELECT o.o_orderkey FROM orders o
      |          WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
      |          ORDER BY o.o_orderdate, o.o_orderkey LIMIT 1) AS fk
      |  FROM events e),
      |j AS (
      |  SELECT m.event_id, m.user_id, m.es, m.bk, m.fk,
      |         CAST(FLOOR(epoch(ob.o_orderdate)) AS BIGINT) AS bd,
      |         CAST(FLOOR(epoch(of_.o_orderdate)) AS BIGINT) AS fd,
      |         ob.o_orderdate AS bdate, of_.o_orderdate AS fdate
      |  FROM m LEFT JOIN orders ob ON m.bk = ob.o_orderkey
      |         LEFT JOIN orders of_ ON m.fk = of_.o_orderkey),
      |p AS (
      |  SELECT event_id, user_id,
      |         (fk IS NULL OR (bk IS NOT NULL AND es - bd <= fd - es))
      |           AS pick_back,
      |         bk, fk, bdate, fdate
      |  FROM j)
      |SELECT event_id, user_id,
      |       CASE WHEN pick_back THEN bk ELSE fk END AS near_orderkey,
      |       CAST(CASE WHEN pick_back THEN bdate ELSE fdate END AS DATE)
      |         AS near_date,
      |       CASE WHEN bk IS NULL AND fk IS NULL THEN NULL
      |            WHEN pick_back THEN 'b' ELSE 'f' END AS direction
      |FROM p ORDER BY event_id""".stripMargin)

  /** SCD2-style temporal dimension join: build validity intervals from
    * the orders history per customer (valid_from = order date, valid_to
    * = next order's date via lead — half-open, so same-date orders
    * produce empty intervals deterministically), then land each event in
    * the interval covering its timestamp. The slowly-changing-dimension
    * lookup every warehouse needs; intervals partition time per key so
    * each fact matches at most one version. Scale: one shuffle per side
    * on the customer key; the window that builds the dim is keyed by the
    * same column, so dim-build and join share a partitioning. */
  private val scdJoin = QueryDef(
    (s, dir) => {
      import s.implicits._
      // Because the validity intervals are half-open and contiguous per
      // customer (valid_to = next order's valid_from), "the interval
      // covering ts" is exactly "the LAST order at-or-before ts, by
      // (valid_from, o_orderkey)" — so the lookup runs as the same
      // linear union+window plan as joinAsof: ONE shuffle+sort on the
      // customer key instead of dim-build window + equi-join + range
      // filter (two shuffles of the same data plus a join). Events
      // before a user's first order match no interval → inner-join
      // semantics via the isNotNull filter.
      val e = Tables.events(s, dir)
        .select($"user_id".as("u"), $"ts".as("t"), lit(1).as("is_event"),
          $"event_id", lit(null).cast("struct<d:timestamp,k:bigint>").as("ord"))
      val o = Tables.orders(s, dir)
        // null custkey/orderdate rows can never seed a validity interval
        // (the oracle's equi+range condition is never true on null) —
        // drop them so the null-key window partition stays match-free
        .filter($"o_custkey".isNotNull && $"o_orderdate".isNotNull)
        .select($"o_custkey".as("u"), $"o_orderdate".as("t"),
          lit(0).as("is_event"), lit(null).cast("long").as("event_id"),
          struct($"o_orderdate".as("d"), $"o_orderkey".as("k")).as("ord"))
      val w = Window.partitionBy($"u")
        .orderBy($"t", $"is_event", $"ord.k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.unionByName(o)
        .withColumn("last_ord", last($"ord", ignoreNulls = true).over(w))
        .filter($"is_event" === 1 && $"last_ord".isNotNull)
        .select($"event_id", $"u".as("user_id"),
          $"last_ord.k".as("active_order"),
          to_date($"last_ord.d").as("since"))
        .orderBy($"event_id")
    },
    """WITH dim AS (
      |  SELECT o_orderkey, o_custkey, o_orderdate AS valid_from,
      |         LEAD(o_orderdate, 1) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS valid_to
      |  FROM orders)
      |SELECT event_id, user_id, o_orderkey AS active_order,
      |       CAST(valid_from AS DATE) AS since
      |FROM events JOIN dim
      |  ON user_id = o_custkey AND ts >= valid_from
      | AND (valid_to IS NULL OR ts < valid_to)
      |ORDER BY event_id""".stripMargin)

  /** TPC-H Q3 analog (shipping-priority): top-10 still-unshipped orders
    * by discounted revenue for one market segment. The classic
    * filter-early star query: both date predicates land in the parquet
    * scans (PushedFilters), customer is pre-filtered to one segment
    * then broadcast, and the top-10 is TakeOrderedAndProject over the
    * aggregated rows — no global sort. At 100 TB only lineitem⋈orders
    * shuffles (co-locatable via orderkey bucketing). */
  private val tpchQ3 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val cutoff = "2000-03-15"
      val cust = Tables.customer(s, dir)
        .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
      Tables.lineitem(s, dir).filter($"l_shipdate" > lit(cutoff))
        .join(Tables.orders(s, dir).filter($"o_orderdate" < lit(cutoff)),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"o_orderdate")
        .agg(Incremental.r4s(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast("decimal(28,10)"))).as("rev"))
        .select($"l_orderkey", to_date($"o_orderdate").as("o_orderdate"), $"rev")
        .orderBy($"rev".desc, $"l_orderkey")
        .limit(10)
    },
    """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
      |       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 4) AS DOUBLE) AS rev
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '2000-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY rev DESC, l_orderkey LIMIT 10""".stripMargin)

  /** TPC-H Q5 analog (local-supplier volume): revenue per nation for one
    * region and one order-date year, counting only lineitems whose
    * supplier sits in the customer's own nation. Exercises the 6-table
    * star with a non-key equality (c_nationkey = s_nationkey) applied
    * as a post-join filter; nation/region/supplier broadcast, the two
    * facts shuffle on their join keys. */
  private val tpchQ5 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val asiaNations = Tables.nation(s, dir)
        .join(Tables.region(s, dir).filter($"r_name" === "ASIA"),
          $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name")
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
          .filter($"o_orderdate" >= lit("1996-01-01") &&
            $"o_orderdate" < lit("1997-01-01")),
          $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
        .filter($"c_nationkey" === $"s_nationkey")
        .join(broadcast(asiaNations), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(Incremental.r4s(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast("decimal(28,10)"))).as("rev"),
          count(lit(1)).as("n"))
        .orderBy($"n_name")
    },
    """SELECT n_name,
      |       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 4) AS DOUBLE) AS rev,
      |       COUNT(*) AS n
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name ORDER BY n_name""".stripMargin)

  /** TPC-H Q1 full form (pricing summary report): the 8-aggregate
    * single-pass scan — exact-decimal sums (r4s) and exact-numerator
    * means (r4a) over the double measure columns, all computed in ONE
    * two-phase hash aggregate behind the pushed shipdate predicate.
    * q_agg_basic covers the COUNT/SUM/MIN surface; this is the
    * composite report users actually run, and the multi-measure
    * decimal-discipline stress test (8 aggregates must stay partial-
    * aggregation-order-independent simultaneously). */
  /** Arithmetic tier (r8 perf — [[Incremental.unitSum]] rationale):
    * every Q1 measure is GRID-VALUED (fixture-audited: quantity
    * integral; price/discount/tax on the 2-decimal grid; their 2-op
    * products land on the 4-/6-decimal grids within ~1e-11, half-
    * spacing 5e-7), so the exact sums run as plain codegen'd LONG sums
    * of ROUND(x·10^s) — ~2× the decimal-sum path (probed 0.69 s vs
    * 1.35 s for the five sums at sf0.1; Spark's Decimal Sum pays
    * per-row boxing + overflow checks in the partial agg). The five
    * per-row double ROUNDs run as the native kernel
    * (graft.functions.DoubleRound), not Spark's per-row
    * `BigDecimal.valueOf(x).setScale(s, HALF_UP)`: bit-equal, and it
    * halved this query's median on the 4-core box. Presentation
    * and means shift the exact integers to 1e-4/1e-6 units and perform
    * ONE identical IEEE division per output on both engines. */
  private val tpchQ1 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val disc = ($"l_extendedprice" * (lit(1.0) - $"l_discount"))
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" <= lit("2000-12-01"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          Incremental.unitSum($"l_quantity", 0).as("sq"),
          Incremental.unitSum($"l_extendedprice", 2).as("sp"),
          Incremental.unitSum(disc, 4).as("sd"),
          Incremental.unitSum(disc * (lit(1.0) + $"l_tax"), 6).as("sc"),
          Incremental.unitSum($"l_discount", 2).as("sdisc"),
          count(lit(1)).as("count_order"))
        .select($"l_returnflag", $"l_linestatus",
          Incremental.units4($"sq", 0).as("sum_qty"),
          Incremental.units4($"sp", 2).as("sum_base_price"),
          Incremental.units4($"sd", 4).as("sum_disc_price"),
          Incremental.units4($"sc", 6).as("sum_charge"),
          Incremental.unitsAvg4($"sq", $"count_order", 0).as("avg_qty"),
          Incremental.unitsAvg4($"sp", $"count_order", 2).as("avg_price"),
          Incremental.unitsAvg4($"sdisc", $"count_order", 2).as("avg_disc"),
          $"count_order")
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    """WITH g AS (
      |  SELECT l_returnflag, l_linestatus,
      |         SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sq,
      |         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sp,
      |         SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS sd,
      |         SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1000000) AS BIGINT)) AS sc,
      |         SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS sdisc,
      |         COUNT(*) AS count_order
      |  FROM lineitem
      |  WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      |  GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus,
      |       CAST(sq * 10000 AS DOUBLE) / 10000.0 AS sum_qty,
      |       CAST(sp * 100 AS DOUBLE) / 10000.0 AS sum_base_price,
      |       CAST(sd AS DOUBLE) / 10000.0 AS sum_disc_price,
      |       FLOOR(CAST(sc + 50 AS DOUBLE) / 100.0) / 10000.0 AS sum_charge,
      |       FLOOR(CAST(sq * 1000000 AS DOUBLE) / (count_order * 100.0) + 0.5) / 10000.0 AS avg_qty,
      |       FLOOR(CAST(sp * 10000 AS DOUBLE) / (count_order * 100.0) + 0.5) / 10000.0 AS avg_price,
      |       FLOOR(CAST(sdisc * 10000 AS DOUBLE) / (count_order * 100.0) + 0.5) / 10000.0 AS avg_disc,
      |       count_order
      |FROM g
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** TPC-H Q18 analog (large-volume customers): orders whose total
    * lineitem quantity exceeds a high threshold, with customer names,
    * top-100 by order value. The agg→filter→join composition: the
    * HAVING aggregate runs FIRST (two-phase, exact decimal so the
    * threshold comparison can't ulp-flip between engines) and its
    * highly selective survivor set is broadcast into the star —
    * at 100 TB the order of operations (reduce, then join) IS the
    * optimization. */
  private val tpchQ18 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val big = Tables.lineitem(s, dir)
        .groupBy($"l_orderkey")
        .agg(sum($"l_quantity".cast("decimal(28,10)")).as("sq"))
        .filter($"sq" > 250)
      Tables.orders(s, dir)
        .join(broadcast(big), $"o_orderkey" === $"l_orderkey")
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .select($"c_name", $"c_custkey", $"o_orderkey",
          to_date($"o_orderdate").as("o_orderdate"), $"o_totalprice",
          Incremental.r4s($"sq").as("sum_qty"))
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(100)
    },
    """SELECT c_name, c_custkey, o_orderkey,
      |       CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
      |       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,10))), 4) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |JOIN orders   ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |GROUP BY 1, 2, 3, 4, 5
      |HAVING SUM(CAST(l_quantity AS DECIMAL(28,10))) > 250
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)

  /** TPC-H Q10 analog (returned-item reporting): revenue lost to
    * returned lineitems per customer over one quarter, top 20. The
    * classic "who returns the most" fact⋈fact⋈dim rollup.
    *
    * Scale: the o_orderdate quarter predicate and l_returnflag = 'R'
    * both push to the parquet scans (PushedFilters), shrinking both
    * fact sides BEFORE the orderkey shuffle; nation broadcasts; the
    * custkey rollup is two-phase hash agg; top-20 collapses to
    * TakeOrderedAndProject (no global sort materialization). */
  private val tpchQ10 = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir).filter($"l_returnflag" === "R")
        .join(Tables.orders(s, dir)
          .filter($"o_orderdate" >= lit("1996-01-01") &&
            $"o_orderdate" < lit("1996-04-01")),
          $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
        .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
        .agg(Incremental.r4s(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast("decimal(28,10)"))).as("rev"),
          count(lit(1)).as("n"))
        .orderBy($"rev".desc, $"c_custkey")
        .limit(20)
    },
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 4) AS DOUBLE) AS rev,
      |       COUNT(*) AS n
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |GROUP BY 1, 2, 3, 4
      |ORDER BY rev DESC, c_custkey LIMIT 20""".stripMargin)

  /** TPC-H Q4 analog (order-priority checking): orders per priority in
    * one quarter having at least one LATE lineitem (shipped >90 days
    * after order — the fixture's commit/receipt-date stand-in). The
    * canonical EXISTS-correlated-subquery → LEFT SEMI decorrelation.
    *
    * Scale: quarter predicate pushed to the orders scan; the semi join
    * shuffles on orderkey only (no row multiplication — semi stops at
    * first match); priority rollup is a 5-row two-phase agg. */
  private val tpchQ4 = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .filter($"o_orderdate" >= lit("1996-01-01") &&
          $"o_orderdate" < lit("1996-04-01"))
        .join(Tables.lineitem(s, dir),
          $"l_orderkey" === $"o_orderkey" &&
            $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    },
    """SELECT o_orderpriority, COUNT(*) AS n
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** TPC-H Q12 analog (shipping-priority split): per return-flag class
    * (the fixture's shipmode stand-in), how many 1996-shipped lineitems
    * belong to urgent vs non-urgent orders — the canonical conditional
    * aggregation over a fact⋈fact join. Ship-year predicate pushed to
    * the lineitem scan; counts are exact integer CASE sums. */
  private val tpchQ12 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val urgent = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1996-01-01") &&
          $"l_shipdate" < lit("1997-01-01"))
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag")
        .agg(
          sum(urgent.cast("long")).as("high_count"),
          sum((!urgent).cast("long")).as("low_count"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    },
    """SELECT l_returnflag,
      |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
      |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_count,
      |       COUNT(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** TPC-H Q14 analog (promotion effect): share of one month's revenue
    * from PROMO parts — the ratio-of-conditional-sums shape. Both sums
    * accumulate in exact decimal and round via r4s; the percentage is
    * then ONE IEEE division of bit-identical doubles, so the ratio
    * cannot ulp-drift between engines. part broadcasts; month predicate
    * pushed to the lineitem scan. */
  private val tpchQ14 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val rev = ($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast("decimal(28,10)")
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1996-03-01") &&
          $"l_shipdate" < lit("1996-04-01"))
        .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
        .agg(
          Incremental.r4s(sum(when($"p_type" === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(28,10)")))).as("promo_rev"),
          Incremental.r4s(sum(rev)).as("total_rev"))
        .select($"promo_rev", $"total_rev",
          (lit(100.0) * $"promo_rev" / $"total_rev").as("promo_pct"))
    },
    """WITH s AS (
      |  SELECT CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
      |                  THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))
      |                  ELSE CAST(0 AS DECIMAL(28,10)) END), 4) AS DOUBLE) AS promo_rev,
      |         CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 4) AS DOUBLE) AS total_rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00')
      |SELECT promo_rev, total_rev,
      |       100.0 * promo_rev / total_rev AS promo_pct
      |FROM s""".stripMargin)

  /** TPC-H Q6 analog (forecast-revenue change): potential revenue from
    * small-quantity discounted lineitems in one ship-year — the
    * canonical full-scan conditional aggregate. All three predicates
    * push to the parquet scan (date range + discount band + quantity
    * cap), so the aggregate sees only qualifying rows; one-row result
    * via r4s exact-decimal sum. */
  private val tpchQ6 = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1996-01-01") &&
          $"l_shipdate" < lit("1997-01-01") &&
          $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
          $"l_quantity" < 24)
        .agg(
          Incremental.r4s(sum(($"l_extendedprice" * $"l_discount")
            .cast("decimal(28,10)"))).as("revenue"),
          count(lit(1)).as("n"))
    },
    """SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,10))), 4) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin)

  /** TPC-H Q19 analog (discounted revenue, disjunctive predicates):
    * revenue from three OR-ed (brand × size-band × quantity-band)
    * part/lineitem conjunct classes — the disjunct-pushdown stress
    * shape. part broadcasts; each disjunct mixes columns from both
    * sides so the OR evaluates post-join, while the single common
    * pre-filter (quantity ceiling) still pushes to the fact scan. */
  private val tpchQ19 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val d1 = $"p_brand" === "Brand#1" && $"p_size".between(1, 15) &&
        $"l_quantity".between(1, 11)
      val d2 = $"p_brand" === "Brand#2" && $"p_size".between(1, 25) &&
        $"l_quantity".between(10, 20)
      val d3 = $"p_brand" === "Brand#3" && $"p_size".between(1, 35) &&
        $"l_quantity".between(20, 30)
      Tables.lineitem(s, dir)
        .filter($"l_quantity" <= 30)
        .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
        .filter(d1 || d2 || d3)
        .agg(
          Incremental.r4s(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .cast("decimal(28,10)"))).as("revenue"),
          count(lit(1)).as("n"))
    },
    """SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 4) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_quantity <= 30
      |  AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
      |        AND l_quantity BETWEEN 1 AND 11)
      |    OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
      |        AND l_quantity BETWEEN 10 AND 20)
      |    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
      |        AND l_quantity BETWEEN 20 AND 30))""".stripMargin)

  /** TPC-H Q13 analog (customer order-count distribution): how many
    * customers placed exactly k qualifying orders, including k = 0 —
    * the canonical LEFT OUTER + double aggregation. The priority
    * predicate is pushed into the orders side BEFORE the outer join
    * (equivalent to the textbook join-condition form for LEFT OUTER,
    * and lets the scan prune); `count(o_orderkey)` ignores the nulls
    * the unmatched customers carry. Both rollups are two-phase hash
    * aggs; the second one's input is |customers| rows, already tiny. */
  private val tpchQ13 = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter($"o_orderpriority" =!= "1-URGENT"),
          $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    },
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)

  /** TPC-H Q15 analog (top supplier): supplier(s) whose quarter revenue
    * equals the maximum — the classic view + scalar-subquery-max shape.
    * The max is a 1-row aggregate broadcast back onto the per-supplier
    * rollup (no second scan of the fact table, no driver round-trip);
    * the equality compare runs on EXACT decimal sums so "ties with the
    * max" is well-defined on both engines, rounding only on output. */
  private val tpchQ15 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val rev = Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1996-01-01") &&
          $"l_shipdate" < lit("1996-04-01"))
        .groupBy($"l_suppkey")
        .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast("decimal(28,10)")).as("total_rev"))
      rev.join(broadcast(rev.agg(max($"total_rev").as("mx"))),
          $"total_rev" === $"mx")
        .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
        .select($"s_suppkey", $"s_name",
          Incremental.r4s($"total_rev").as("total_rev"))
        .orderBy($"s_suppkey")
    },
    """WITH rev AS (
      |  SELECT l_suppkey,
      |         SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(ROUND(total_rev, 4) AS DOUBLE) AS total_rev
      |FROM supplier JOIN rev ON s_suppkey = l_suppkey
      |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
      |ORDER BY s_suppkey""".stripMargin)

  /** TPC-H Q17 analog (small-quantity-order revenue): revenue from
    * lineitems of one brand whose quantity is below 20% of that part's
    * average quantity — the canonical correlated-scalar-AVG subquery,
    * decorrelated into a per-part aggregate joined back on partkey.
    * The fixture's quantities are exact integers, so the 20%-of-avg
    * test is done in pure BIGINT (q·5·cnt < Σq) — no IEEE averaging,
    * bit-identical across engines. Brand filter broadcasts; the
    * per-part agg and the fact side shuffle on the same key. */
  private val tpchQ17 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val qint = $"l_quantity".cast("long")
      val perPart = Tables.lineitem(s, dir)
        .groupBy($"l_partkey".as("pp_partkey"))
        .agg(sum($"l_quantity".cast("long")).as("sum_q"),
          count(lit(1)).as("cnt_q"))
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).filter($"p_brand" === "Brand#2")),
          $"l_partkey" === $"p_partkey")
        .join(perPart, $"l_partkey" === $"pp_partkey")
        .filter(qint * lit(5L) * $"cnt_q" < $"sum_q")
        .agg(
          Incremental.r4s(sum($"l_extendedprice".cast("decimal(28,10)")))
            .as("sum_price"),
          count(lit(1)).as("n"))
    },
    """WITH pa AS (
      |  SELECT l_partkey AS pp_partkey, SUM(CAST(l_quantity AS BIGINT)) AS sum_q,
      |         COUNT(*) AS cnt_q
      |  FROM lineitem GROUP BY 1)
      |SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,10))), 4) AS DOUBLE) AS sum_price,
      |       COUNT(*) AS n
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN pa   ON l_partkey = pp_partkey
      |WHERE p_brand = 'Brand#2'
      |  AND CAST(l_quantity AS BIGINT) * 5 * cnt_q < sum_q""".stripMargin)

  /** TPC-H Q21 analog (suppliers who kept orders waiting): for finished
    * orders served by ≥2 suppliers where EXACTLY ONE supplier shipped
    * late (>60 days after order), count blamed orders per supplier.
    * The textbook double-EXISTS/NOT-EXISTS is decorrelated into one
    * per-(order, supplier) aggregate + one per-order aggregate — two
    * shuffles on orderkey, no correlated re-scans, no row blowup. The
    * DuckDB oracle keeps the EXISTS form to pin the semantics match. */
  private val tpchQ21 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val late = ($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"))
        .cast("int")
      val perOrderSupp = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter($"o_orderstatus" === "F"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_orderkey", $"l_suppkey")
        .agg(max(late).as("is_late"))
      // r14 (guide §2.4): the former per-order rollup + self-join
      // re-executed the whole lineitem⋈orders + aggregate subtree a
      // second time (only Exchanges are reused across the two plan
      // branches, not the join/agg compute). The per-order counts are a
      // window over the SAME l_orderkey clustering the aggregate
      // already established — zero additional exchanges, one pass.
      // Per-order groups are |suppliers per order|-sized (≤7 here,
      // small at any scale), so the keyed window is skew-safe.
      val wOrd = Window.partitionBy($"l_orderkey")
      perOrderSupp
        .withColumn("n_supp", count(lit(1)).over(wOrd))
        .withColumn("n_late", sum($"is_late").over(wOrd))
        .filter($"is_late" === 1 && $"n_supp" >= 2 && $"n_late" === 1)
        .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
        .groupBy($"s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy($"numwait".desc, $"s_name")
        .limit(25)
    },
    """SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
      |FROM lineitem l1
      |JOIN orders   ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
      |JOIN supplier ON s_suppkey = l1.l_suppkey
      |WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin)

  /** TPC-H Q22 analog (global sales opportunity): well-funded customers
    * (balance above the average POSITIVE balance) with no URGENT order,
    * counted per nation. (Textbook Q22 uses "no orders at all"; every
    * fixture customer has orders, so the NOT-EXISTS correlate is scoped
    * to the urgent class to keep the result set non-degenerate.) The
    * scalar-AVG threshold is evaluated in exact cents (bal·cnt > Σbal
    * over BIGINTs — the fixture's balances are cent-precise), the
    * no-urgent-orders test is a LEFT ANTI join (shuffles keys only),
    * and the 1-row positive-balance aggregate broadcasts. */
  private val tpchQ22 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val cents = round($"c_acctbal" * 100).cast("long")
      val pos = Tables.customer(s, dir).filter($"c_acctbal" > 0.0)
        .agg(sum(round($"c_acctbal" * 100).cast("long")).as("sum_bal"),
          count(lit(1)).as("cnt_bal"))
      Tables.customer(s, dir)
        .join(broadcast(pos))
        .filter(cents * $"cnt_bal" > $"sum_bal")
        .join(Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          round(sum(round($"c_acctbal" * 100).cast("long")) / 100.0, 2)
            .as("totacctbal"))
        .orderBy($"c_nationkey")
    },
    """WITH pos AS (
      |  SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS sum_bal,
      |         COUNT(*) AS cnt_bal
      |  FROM customer WHERE c_acctbal > 0.0)
      |SELECT c_nationkey, COUNT(*) AS numcust,
      |       ROUND(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0, 2) AS totacctbal
      |FROM customer, pos
      |WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * cnt_bal > sum_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderpriority = '1-URGENT')
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)

  /** TPC-H Q7 analog (volume shipping): bilateral trade — revenue
    * between two chosen nations (supplier side vs customer side) per
    * ship-year. Nation broadcasts twice under distinct aliases; the
    * two fact joins shuffle on their natural keys; the pair predicate
    * keeps only the two (supp, cust) directions. Exact-decimal sums. */
  private val tpchQ7 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val n1 = Tables.nation(s, dir)
        .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select($"n_nationkey".as("cn_key"), $"n_name".as("cust_nation"))
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .join(broadcast(n1), $"s_nationkey" === $"sn_key")
        .join(broadcast(n2), $"c_nationkey" === $"cn_key")
        .filter(($"supp_nation" === "NATION_18" && $"cust_nation" === "NATION_19") ||
          ($"supp_nation" === "NATION_19" && $"cust_nation" === "NATION_18"))
        .groupBy($"supp_nation", $"cust_nation",
          year($"l_shipdate").cast("long").as("l_year"))
        .agg(Incremental.r4s(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast("decimal(28,10)"))).as("revenue"))
        .orderBy($"supp_nation", $"cust_nation", $"l_year")
    },
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
      |       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 4) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN supplier    ON l_suppkey = s_suppkey
      |JOIN orders      ON l_orderkey = o_orderkey
      |JOIN customer    ON o_custkey = c_custkey
      |JOIN nation n1   ON s_nationkey = n1.n_nationkey
      |JOIN nation n2   ON c_nationkey = n2.n_nationkey
      |WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
      |   OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)

  /** TPC-H Q8 analog (national market share): of the revenue from ASIA
    * customers, the share supplied by one nation, per order-year. The
    * numerator and denominator are BOTH exact decimal sums; the single
    * IEEE division happens once per year-row on already-rounded
    * doubles, identically on both engines. Dims broadcast; facts
    * shuffle on orderkey/custkey. */
  private val tpchQ8 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val suppN = Tables.nation(s, dir)
        .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
      val custSide = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir).filter($"r_name" === "ASIA")),
          $"n_regionkey" === $"r_regionkey")
        .select($"c_custkey")
      val rev = ($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast("decimal(28,10)")
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .join(custSide, $"o_custkey" === $"c_custkey", "left_semi")
        .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(suppN), $"s_nationkey" === $"sn_key")
        .groupBy(year($"o_orderdate").cast("long").as("o_year"))
        .agg(
          Incremental.r4s(sum(when($"supp_nation" === "NATION_2", rev)
            .otherwise(lit(0).cast("decimal(28,10)")))).as("nation_rev"),
          Incremental.r4s(sum(rev)).as("total_rev"))
        .select($"o_year", $"nation_rev", $"total_rev",
          round($"nation_rev" / $"total_rev", 4).as("mkt_share"))
        .orderBy($"o_year")
    },
    """WITH yr AS (
      |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
      |         CAST(ROUND(SUM(CASE WHEN n1.n_name = 'NATION_2'
      |             THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))
      |             ELSE CAST(0 AS DECIMAL(28,10)) END), 4) AS DOUBLE) AS nation_rev,
      |         CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 4) AS DOUBLE) AS total_rev
      |  FROM lineitem
      |  JOIN orders    ON l_orderkey = o_orderkey
      |  JOIN supplier  ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  WHERE o_custkey IN (
      |    SELECT c_custkey FROM customer
      |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |    JOIN region    ON n2.n_regionkey = r_regionkey
      |    WHERE r_name = 'ASIA')
      |  GROUP BY 1)
      |SELECT o_year, nation_rev, total_rev,
      |       ROUND(nation_rev / total_rev, 4) AS mkt_share
      |FROM yr ORDER BY o_year""".stripMargin)

  /** Explicit bloom semi-join reduction — the runtime-filter pattern
    * spelled out as an operator: build a bloom over the SMALL side's
    * join keys (urgent orders) in a scalar subquery (one 1-row sketch
    * aggregate, broadcast implicitly as a subquery result), prune the
    * fact scan with `graft_might_contain` BEFORE the shuffle, then
    * exact LEFT SEMI join the survivors to kill the bloom's false
    * positives. Result ≡ the plain semi join (the oracle), but at
    * 100 TB the probe side's shuffle carries only ~|matches| + ε rows
    * instead of the full fact table — the same reduction Spark's
    * InjectRuntimeFilter derives implicitly, here pinned explicitly so
    * the plan never silently loses it. Both bloom expressions are
    * Spark's own (codegen'd; sketch merge is a TypedImperativeAggregate). */
  private val bloomJoin = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
        .createOrReplaceTempView("bloom_build_orders")
      Tables.lineitem(s, dir)
        .filter(expr(
          """graft_might_contain(
            |  (SELECT graft_bloom_agg(xxhash64(o_orderkey)) FROM bloom_build_orders),
            |  xxhash64(l_orderkey))""".stripMargin))
        .join(s.table("bloom_build_orders"),
          $"l_orderkey" === $"o_orderkey", "left_semi")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          Incremental.r4s(sum($"l_extendedprice".cast("decimal(28,10)")))
            .as("sum_price"))
        .orderBy($"l_returnflag")
    },
    """SELECT l_returnflag, COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,10))), 4) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_orderkey = l_orderkey
      |                AND o_orderpriority = '1-URGENT')
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** TPC-H Q2 analog (minimum-cost supplier): for each small mid-size
    * part, the EUROPE supplier(s) offering it at the minimum observed
    * price. The fixture has no partsupp table, so the part-supplier
    * cost relation is DERIVED as min(l_extendedprice) per (part,
    * supplier) — same correlated-MIN-subquery shape, decorrelated into
    * a per-part window MIN + equality filter (ties all surface, as in
    * the textbook query). Cost is a pure MIN selection (no arithmetic)
    * so double equality is engine-safe. Supplier/nation/region dims
    * broadcast; the (part,supp) rollup shuffles once on partkey. */
  private val tpchQ2 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val ps = Tables.lineitem(s, dir)
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(min($"l_extendedprice").as("cost"))
      val eu = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir).filter($"r_name" === "EUROPE")),
          $"n_regionkey" === $"r_regionkey")
        .select($"s_suppkey", $"s_acctbal", $"s_name", $"n_name")
      val j = Tables.part(s, dir)
        .filter($"p_type" === "SMALL" && $"p_size".between(10, 20))
        .join(ps, $"p_partkey" === $"l_partkey")
        .join(broadcast(eu), $"l_suppkey" === $"s_suppkey")
      j.withColumn("mc", min($"cost").over(Window.partitionBy($"p_partkey")))
        .filter($"cost" === $"mc")
        .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey", $"cost")
        .orderBy($"s_acctbal".desc, $"p_partkey", $"s_name")
        .limit(100)
    },
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
      |  FROM lineitem GROUP BY 1, 2),
      |eu AS (
      |  SELECT s_suppkey, s_acctbal, s_name, n_name
      |  FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE'),
      |j AS (
      |  SELECT p_partkey, s_acctbal, s_name, n_name, cost
      |  FROM part
      |  JOIN ps ON p_partkey = l_partkey
      |  JOIN eu ON l_suppkey = s_suppkey
      |  WHERE p_type = 'SMALL' AND p_size BETWEEN 10 AND 20),
      |m AS (
      |  SELECT *, MIN(cost) OVER (PARTITION BY p_partkey) AS mc FROM j)
      |SELECT s_acctbal, s_name, n_name, p_partkey, cost
      |FROM m WHERE cost = mc
      |ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 100""".stripMargin)

  /** TPC-H Q9 analog (product-type profit): per supplier-nation per
    * order-year, profit on red parts. No partsupp → supply cost is
    * DEFINED as 60% of the part's retail price per unit (documented
    * fixture re-grounding; preserves Q9's join topology and
    * mixed-sign aggregation exactly). amount = extprice·(1−disc) −
    * 0.6·retail·qty, summed as exact decimals; per-row doubles are
    * identical IEEE products on both engines. part filter pushes to
    * its scan, dims broadcast, facts shuffle on orderkey. */
  private val tpchQ9 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val amount = ($"l_extendedprice" * (lit(1.0) - $"l_discount") -
        lit(0.6) * $"p_retailprice" * $"l_quantity").cast("decimal(28,10)")
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .filter($"p_name".startsWith("red"))), $"l_partkey" === $"p_partkey")
        .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name", year($"o_orderdate").cast("long").as("o_year"))
        .agg(Incremental.r4s(sum(amount)).as("profit"), count(lit(1)).as("n"))
        .orderBy($"n_name", $"o_year".desc)
    },
    """SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
      |       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                           - 0.6 * p_retailprice * l_quantity
      |                           AS DECIMAL(28,10))), 4) AS DOUBLE) AS profit,
      |       COUNT(*) AS n
      |FROM lineitem
      |JOIN part     ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |WHERE p_name LIKE 'red%'
      |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin)

  /** RFM customer segmentation — recency (days from last order to the
    * fixture's horizon), frequency, monetary (exact cents), each scored
    * into quintiles with ntile(5). ntile's bucket rule (equal buckets,
    * earlier buckets absorb remainders, assignment by window order) is
    * identical in Spark and DuckDB; every ORDER BY ends in c_custkey so
    * the permutation — and therefore every score — is deterministic.
    *
    * r14 (guide §2.5/§2.4): the textbook three global NTILE windows
    * each plan as `Exchange SinglePartition` + Sort — |customers| rows
    * through ONE task, three times (the last |rows|-scale
    * single-partition window in the surface; PLANS.md inventory). Here
    * each quintile's 4 BOUNDARY rows come from ONE shared parallel
    * range sort over the signed-metric melt
    * ([[Scale.globalRankPickBy]] at ntile's cumulative bucket-size
    * ranks b·⌊n/5⌋ + min(b, n mod 5)), and the score is 1 +
    * #boundaries strictly below the row in that ordering — a narrow
    * broadcast-free projection (the q_decile_bucket idiom, composite
    * keys). Exact
    * equivalence: every ORDER BY ends in the UNIQUE c_custkey, so the
    * (metric, custkey) tuple comparison reproduces the rank comparison
    * — rank r > C(b) ⟺ tuple > boundary_b's tuple; duplicate cut
    * ranks (n < 5 only) always compare false and dedupe safely. The
    * oracle keeps NTILE verbatim, so the gate proves the equivalence.
    * Scale: one orders rollup + one parallel range sort over 3·
    * |customers| melt rows (already 4 orders of magnitude below the
    * fact table) — no single-task stage anywhere. */
  private val rfm = QueryDef(
    (s, dir) => {
      import s.implicits._
      val base = Tables.orders(s, dir)
        .groupBy($"o_custkey".as("c_custkey"))
        .agg(
          datediff(lit("2001-08-01"), max(to_date($"o_orderdate")))
            .cast("long").as("r_days"),
          count(lit(1)).as("f"),
          sum(round($"o_totalprice" * 100).cast("long")).as("m_cents"))
        // four plan legs (three boundary sorts + the scored output):
        // plan-local persist, the winnowRare discipline
        .persist()
      def cuts(n: Long): Seq[Long] =
        (1L to 4L).map(b => (n / 5) * b + math.min(b, n % 5))
          .distinct.filter(_ > 0)
      // signed-long melt: within each tag, ascending (_v, c_custkey)
      // reproduces that quintile's ORDER BY exactly (long negation is
      // exact — no packed-double precision hazard), so the THREE
      // boundary reads share ONE range sort + census + pick. Null
      // measures (in-contract at ingest — NullPayloadSpec) coalesce to
      // the sentinel that lands them where the window ordering put
      // them: ASC r_days → nulls FIRST (Long.MinValue), DESC m_cents →
      // nulls LAST (negated-ascending Long.MaxValue); f is a count,
      // never null. Sentinel collision would need |sum(price·100)| or
      // |r_days| ≥ 2^63-1 — excluded by the ingest domains.
      val rv = coalesce($"r_days", lit(Long.MinValue))
      val fv = -$"f"
      val mv = coalesce(-$"m_cents", lit(Long.MaxValue))
      val melted = base
        .select(lit("r").as("_q"), rv.as("_v"), $"c_custkey")
        .unionByName(base
          .select(lit("f").as("_q"), fv.as("_v"), $"c_custkey"))
        .unionByName(base
          .select(lit("m").as("_q"), mv.as("_v"), $"c_custkey"))
      val bnds = Scale.globalRankPickBy(s, melted, "_q",
          Seq($"_v".asc, $"c_custkey".asc), (_, n) => cuts(n))
        .select($"_q", $"_v", $"c_custkey".cast("long"))
        .collect().groupBy(_.getString(0))
      // score = 1 + #boundaries the row's (signed metric, custkey)
      // tuple sorts strictly AFTER; v must be the SAME coalesced
      // expression the melt sorted on, so the comparison is total
      // (null-sentinel rows score against the boundaries too)
      def score(tag: String, v: Column): Column =
        bnds.getOrElse(tag, Array.empty).foldLeft(lit(1): Column) {
          (acc, b) =>
            acc + when(v > b.getLong(1) ||
              (v === b.getLong(1) && $"c_custkey" > b.getLong(2)), 1)
              .otherwise(0)
        }.cast("long")
      base
        .withColumn("r_score", score("r", rv))
        .withColumn("f_score", score("f", fv))
        .withColumn("m_score", score("m", mv))
        .withColumn("segment",
          concat($"r_score", $"f_score", $"m_score"))
        .orderBy($"c_custkey")
    },
    """WITH base AS (
      |  SELECT o_custkey AS c_custkey,
      |         CAST(DATE '2001-08-01' - CAST(MAX(o_orderdate) AS DATE) AS BIGINT)
      |           AS r_days,
      |         COUNT(*) AS f,
      |         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS m_cents
      |  FROM orders GROUP BY 1)
      |SELECT c_custkey, r_days, f, CAST(m_cents AS BIGINT) AS m_cents,
      |       CAST(NTILE(5) OVER (ORDER BY r_days, c_custkey) AS BIGINT)
      |         AS r_score,
      |       CAST(NTILE(5) OVER (ORDER BY f DESC, c_custkey) AS BIGINT)
      |         AS f_score,
      |       CAST(NTILE(5) OVER (ORDER BY m_cents DESC, c_custkey) AS BIGINT)
      |         AS m_score,
      |       CAST(NTILE(5) OVER (ORDER BY r_days, c_custkey) AS VARCHAR)
      |         || CAST(NTILE(5) OVER (ORDER BY f DESC, c_custkey) AS VARCHAR)
      |         || CAST(NTILE(5) OVER (ORDER BY m_cents DESC, c_custkey) AS VARCHAR)
      |         AS segment
      |FROM base ORDER BY c_custkey""".stripMargin)

  /** Bucketed co-located join — the shuffle-elimination technique that
    * matters most at 100 TB: both fact tables are written ONCE as
    * bucketed+sorted tables on the join key (8 buckets here; thousands
    * in production), after which every orderkey join reads co-located
    * buckets and plans a SortMergeJoin with NO Exchange on either side
    * (PlanSpec pins ≤2 exchanges total — only the post-join rollup and
    * final sort shuffle). The bucketed write is memoized per (session,
    * sf) in the catalog — the one-off ingest cost a warehouse amortizes
    * over every subsequent join; bucket files land under java tmpdir,
    * not the fixture dir. Result ≡ the plain join (the oracle). */
  /** Content-addressed suffix for the memoized bucketed tables: hex
    * SHA-256 (64 bits kept) of the canonical absolute fixture path.
    * Collision-free in practice — unlike `String.hashCode`, whose
    * 32-bit space collides trivially (e.g. "Aa"/"BB") and whose
    * `math.abs` is negative at Int.MinValue — so two distinct fixture
    * dirs can never silently share (and therefore cross-contaminate)
    * a bucketed table. Pinned by JoinsSpec. */
  private[graft] def bucketSuffix(dir: String): String = {
    val canon = java.nio.file.Paths.get(dir)
      .toAbsolutePath.normalize.toString
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  }

  private val bucketedJoin = QueryDef(
    (s, dir) => {
      import s.implicits._
      val suffix = bucketSuffix(dir)
      val (ot, lt) = (s"g_bkt_orders_$suffix", s"g_bkt_lineitem_$suffix")
      // the bucket files are PROCESS-private (pid in the path): catalog
      // metadata never crosses JVMs (each sbt fork runs its own
      // metastore), so a shared tmpdir could only ever let one fork's
      // overwrite race another fork's read — scoping the dir per
      // process removes the cross-process race outright, and the
      // JVM-wide lock below serializes ingest within the process. In
      // production this is a real warehouse table, written once. The
      // dir is deleted when the process exits.
      val base = org.apache.spark.sql.graftshim.Shim.deleteOnExit(
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_bucketed_p${ProcessHandle.current.pid}")))
      // JVM-wide lock: concurrent builders (parallel test suites) must
      // not race the one-off bucketed ingest (double saveAsTable to the
      // same path corrupts the table)
      Joins.synchronized {
        if (!s.catalog.tableExists(ot)) {
          Tables.orders(s, dir)
            .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
            .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .option("path", s"$base/$ot").mode("overwrite").saveAsTable(ot)
          Tables.lineitem(s, dir)
            .select($"l_orderkey", $"l_returnflag", $"l_extendedprice")
            .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", s"$base/$lt").mode("overwrite").saveAsTable(lt)
        }
      }
      // MERGE hint: at fixture scale the optimizer would broadcast the
      // small side (also fine), but the point being pinned is the
      // bucket co-location — SMJ whose children read pre-bucketed,
      // pre-sorted files with NO exchange and NO per-query sort.
      s.table(lt).hint("merge")
        .join(s.table(ot).hint("merge"), $"l_orderkey" === $"o_orderkey")
        .filter($"o_orderpriority" === "1-URGENT")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          Incremental.r4s(sum($"l_extendedprice".cast("decimal(28,10)")))
            .as("sum_price"))
        .orderBy($"l_returnflag")
    },
    """SELECT l_returnflag, COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,10))), 4) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Derived partsupp relation — the fixture ships no partsupp table,
    * so the DISTINCT (part, supplier) pairs OBSERVED in lineitem become
    * the supply catalog, with availqty/supplycost as pure-integer
    * functions of the keys that both engines derive identically (no
    * engine hash):
    *   availqty      = (partkey·37 + suppkey·17) mod 9999 + 1
    *   supplycost_c  = (partkey·13 + suppkey·7) mod 9000 + 10000 cents
    * This preserves the JOIN TOPOLOGY and aggregation semantics of the
    * partsupp-dependent TPC-H shapes (Q11/Q16/Q20) without inventing
    * untracked data. Mirrored verbatim in each oracle's `ps` CTE.
    * Memoized: the distinct is a full lineitem shuffle and
    * q_tpch_q11/q16/q20 each rebuilt it. */
  private def partsupp(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "partsupp") {
      import s.implicits._
      Tables.lineitem(s, dir)
        .select($"l_partkey".as("ps_partkey"), $"l_suppkey".as("ps_suppkey"))
        .distinct()
        .withColumn("ps_availqty",
          expr("(ps_partkey * 37 + ps_suppkey * 17) % 9999 + 1"))
        .withColumn("ps_supplycost_c",
          expr("(ps_partkey * 13 + ps_suppkey * 7) % 9000 + 10000"))
    }

  private val psOracle: String =
    """ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         (l_partkey * 37 + l_suppkey * 17) % 9999 + 1 AS ps_availqty,
      |         (l_partkey * 13 + l_suppkey * 7) % 9000 + 10000
      |           AS ps_supplycost_c
      |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))""".stripMargin

  /** TPC-H Q11 analog (important stock identification): parts whose
    * inventory value at one nation-group's suppliers exceeds 0.05% of
    * that group's total — the scalar-subquery-fraction HAVING. The
    * threshold compare is EXACT integers (value_c·2000 > total_c ⇔
    * value > 0.0005·total), the 1-row total broadcasts, and the value
    * rollup is two-phase on partkey. */
  private val tpchQ11 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val grp = partsupp(s, dir)
        .join(broadcast(Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir)
            .filter($"n_regionkey" === 2)), $"s_nationkey" === $"n_nationkey")
          .select($"s_suppkey")), $"ps_suppkey" === $"s_suppkey")
        .select($"ps_partkey",
          ($"ps_supplycost_c" * $"ps_availqty").as("val_c"))
      val perPart = grp.groupBy($"ps_partkey")
        .agg(sum($"val_c".cast("decimal(38,0)")).as("value_c"))
      perPart
        .join(broadcast(perPart.agg(sum($"value_c").as("total_c"))))
        .filter($"value_c" * 2000 > $"total_c")
        .select($"ps_partkey",
          round($"value_c".cast("double") / 100.0, 2).as("value"))
        .orderBy($"value".desc, $"ps_partkey")
    },
    s"""WITH $psOracle,
      |grp AS (
      |  SELECT ps_partkey,
      |         CAST(ps_supplycost_c AS HUGEINT) * ps_availqty AS val_c
      |  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
      |          JOIN nation   ON s_nationkey = n_nationkey
      |  WHERE n_regionkey = 2),
      |pp AS (
      |  SELECT ps_partkey, SUM(val_c) AS value_c FROM grp GROUP BY 1)
      |SELECT ps_partkey,
      |       ROUND(CAST(value_c AS DOUBLE) / 100.0, 2) AS value
      |FROM pp, (SELECT SUM(value_c) AS total_c FROM pp) t
      |WHERE value_c * 2000 > total_c
      |ORDER BY value DESC, ps_partkey""".stripMargin)

  /** TPC-H Q16 analog (parts/supplier relationship): distinct supplier
    * count per (brand, type, size) for parts outside one brand,
    * excluding deficit-balance suppliers (the fixture's stand-in for
    * the complaints NOT IN). Exclusion is a LEFT ANTI join; the
    * distinct count is exact two-phase. */
  private val tpchQ16 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val excl = Tables.supplier(s, dir).filter($"s_acctbal" < 0)
        .select($"s_suppkey")
      partsupp(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .filter($"p_brand" =!= "Brand#1" && $"p_size".isin(5, 10, 15, 20))),
          $"ps_partkey" === $"p_partkey")
        .join(broadcast(excl), $"ps_suppkey" === $"s_suppkey", "left_anti")
        .groupBy($"p_brand", $"p_type", $"p_size")
        .agg(countDistinct($"ps_suppkey").as("supplier_cnt"))
        .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
    },
    s"""WITH $psOracle
      |SELECT p_brand, p_type, p_size,
      |       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
      |FROM ps JOIN part ON ps_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_size IN (5, 10, 15, 20)
      |  AND ps_suppkey NOT IN
      |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)

  /** TPC-H Q20 analog (potential part promotion): suppliers holding
    * EXCESS stock — availqty more than half the quantity they actually
    * shipped of that part in one year, for one part class. The nested
    * IN/EXISTS chain decorrelates to: per-(part,supp) shipped-qty
    * aggregate ⋈ partsupp ⋈ red-part filter, then a LEFT SEMI into
    * supplier. Excess test is pure integers (availqty·2 > qty). */
  private val tpchQ20 = QueryDef(
    (s, dir) => {
      import s.implicits._
      val shipped = Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1996-01-01") &&
          $"l_shipdate" < lit("1997-01-01"))
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(sum($"l_quantity".cast("long")).as("qty"))
      val excess = partsupp(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .filter($"p_name".startsWith("red")).select($"p_partkey")),
          $"ps_partkey" === $"p_partkey")
        .join(shipped,
          $"ps_partkey" === $"l_partkey" && $"ps_suppkey" === $"l_suppkey")
        .filter($"ps_availqty" * 2 > $"qty")
        .select($"ps_suppkey").distinct()
      Tables.supplier(s, dir)
        .join(excess, $"s_suppkey" === $"ps_suppkey", "left_semi")
        .select($"s_suppkey", $"s_name")
        .orderBy($"s_suppkey")
    },
    s"""WITH $psOracle,
      |shipped AS (
      |  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS qty
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY 1, 2)
      |SELECT s_suppkey, s_name FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT ps_suppkey FROM ps
      |  JOIN part ON ps_partkey = p_partkey
      |  JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      |  WHERE p_name LIKE 'red%' AND ps_availqty * 2 > qty)
      |ORDER BY s_suppkey""".stripMargin)

  /** Persisted basket-family lineages (and [[partsupp]]), memoized per
    * (session, dir) — the TextDedup/TextOps discipline: q_basket_lift
    * and q_item_similarity consumed IDENTICAL basket aggregation + pair
    * count + per-part support plans, each rebuilt per query (the
    * (pa, pb) pair shuffle is the family's dominant cost). One
    * materialization per session ([[graft.util.SessionMemo]]). */
  private val lineages = graft.util.SessionMemo.lineages("joins")
  private def memoized(s: SparkSession, dir: String, key: String,
      partitionBy: Option[String] = None)(build: => DataFrame): DataFrame =
    lineages(s, s"$key|$dir", partitionBy)(build)

  /** Per-order DISTINCT sorted item sets — ONE orderkey shuffle. */
  private def baskets(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "baskets") {
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_orderkey")
        .agg(sort_array(collect_set($"l_partkey")).as("ps"))
    }

  /** Per-part order support from the basket lineage. */
  private def basketPerPart(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "basketPerPart") {
      import s.implicits._
      baskets(s, dir).select(explode($"ps").as("pk"))
        .groupBy($"pk").agg(count(lit(1)).as("n_p"))
    }

  /** Co-occurrence pair counts (pa < pb) — the family's dominant
    * shuffle, shared by lift and similarity; persisted hash-partitioned
    * on `pa`, the key of both consumers' first supports join. */
  private def basketPairCounts(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "basketPairCounts", Some("pa")) {
      import s.implicits._
      basketPairs(s, baskets(s, dir))
        .groupBy($"pa", $"pb")
        .agg(count(lit(1)).as("n_ab"))
    }

  /** Ordered co-occurrence pairs from each basket row: the codegen'd
    * `graft_pairs` packed kernel, unpacked with shifts — bit-identical
    * to the interpreted higher-order formulation (ExpressionSpec pins
    * the equality; partkeys fit the unsigned-32 pack by far). */
  private def basketPairs(s: SparkSession,
                          baskets: DataFrame): DataFrame = {
    import s.implicits._
    baskets.select(explode(call_function("graft_pairs", $"ps")).as("pp"))
      .select(shiftright($"pp", 32).as("pa"),
        $"pp".bitwiseAND(lit(0xFFFFFFFFL)).as("pb"))
  }

  /** Market-basket affinity (association rules): for part pairs
    * co-purchased in the same order, support and LIFT in exact integer
    * basis points (lift = N·n_ab / (n_a·n_b), cross-multiplied in
    * decimal/HUGEINT — no IEEE division). The pair generator is a
    * per-order self-join: fan-out is bounded by the max basket size
    * (≤7 lines/order in TPC-H-shaped data, so ≤21 pairs — NOT a
    * quadratic blowup; a retail-scale 10⁴-item basket would need the
    * usual frequent-item pre-prune, which q_heavy_hitters provides).
    * Per-part supports join unhinted (planner broadcasts them at
    * fixture scale); top-50 by co-count via TakeOrderedAndProject. */
  private val basketLift = QueryDef(
    (s, dir) => {
      import s.implicits._
      // ONE orderkey shuffle builds the per-order basket (collect_set =
      // the DISTINCT item set, bounded by basket size); pairs, per-part
      // supports and the order count all derive from that aggregate —
      // no items self-join shuffle, and all three lineages are memoized
      // (shared with q_item_similarity). Pairs are generated ARRAY-SIDE
      // from the sorted basket (a < b positions), ≤ C(7,2) per order.
      val nOrders = baskets(s, dir).agg(count(lit(1)).as("n_orders"))
      // per-part supports join UNHINTED (ADVICE r12): at fixture scale
      // Catalyst broadcasts them anyway (under threshold), and at
      // catalog scale — where a billion-item perPart is NOT
      // broadcastable — the planner falls back to SMJ on pa against the
      // pa-partitioned cached pair table with no pair-side exchange (PlanSpec
      // pins that shape with broadcast disabled). The 1-row nOrders
      // keeps its hint: that is the documented scalar-assembly pattern.
      val perPart = basketPerPart(s, dir)
      basketPairCounts(s, dir)
        .join(perPart.select($"pk".as("pa"), $"n_p".as("n_a")), "pa")
        .join(perPart.select($"pk".as("pb"), $"n_p".as("n_b")), "pb")
        .join(broadcast(nOrders))
        .withColumn("lift_bp", expr(
          """CAST((CAST(n_ab AS DECIMAL(38,0)) * n_orders * 10000)
            |div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)""".stripMargin))
        .select($"pa", $"pb", $"n_ab", $"n_a", $"n_b", $"lift_bp")
        .orderBy($"n_ab".desc, $"pa", $"pb")
        .limit(50)
    },
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items),
      |pp AS (SELECT pk, COUNT(*) AS n_p FROM items GROUP BY 1),
      |pairs AS (
      |  SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS n_ab
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2)
      |SELECT pa, pb, n_ab, x.n_p AS n_a, y.n_p AS n_b,
      |       CAST((CAST(n_ab AS HUGEINT) * n_orders * 10000)
      |            // (CAST(x.n_p AS HUGEINT) * y.n_p) AS BIGINT) AS lift_bp
      |FROM pairs
      |JOIN pp x ON pa = x.pk
      |JOIN pp y ON pb = y.pk
      |CROSS JOIN n
      |ORDER BY n_ab DESC, pa, pb LIMIT 50""".stripMargin)

  /** Item-item similarity from co-purchases (the collaborative-
    * filtering neighborhood primitive): per co-purchased part pair,
    * order-set Jaccard and BOTH directional confidences, all in exact
    * integer basis points (jac = n_ab/(n_a+n_b−n_ab); conf(a→b) =
    * n_ab/n_a). Same single-shuffle basket lineage as q_basket_lift;
    * pairs with ≥2 co-occurrences only (the support floor every CF
    * system applies — and what keeps the pair list sparse at scale). */
  private val itemSimilarity = QueryDef(
    (s, dir) => {
      import s.implicits._
      val perPart = basketPerPart(s, dir)
      // unhinted supports joins — same reasoning as q_basket_lift:
      // Catalyst broadcasts at fixture scale, SMJ-on-pa over the
      // pa-partitioned pair table when perPart outgrows the threshold
      basketPairCounts(s, dir)
        .filter($"n_ab" >= 2)
        .join(perPart.select($"pk".as("pa"), $"n_p".as("n_a")), "pa")
        .join(perPart.select($"pk".as("pb"), $"n_p".as("n_b")), "pb")
        .withColumn("jac_bp", expr(
          "CAST((n_ab * 10000) div (n_a + n_b - n_ab) AS BIGINT)"))
        .withColumn("conf_ab_bp", expr("CAST((n_ab * 10000) div n_a AS BIGINT)"))
        .withColumn("conf_ba_bp", expr("CAST((n_ab * 10000) div n_b AS BIGINT)"))
        .select($"pa", $"pb", $"n_ab", $"jac_bp", $"conf_ab_bp", $"conf_ba_bp")
        .orderBy($"jac_bp".desc, $"pa", $"pb")
        .limit(100)
    },
    """WITH baskets AS (
      |  SELECT l_orderkey AS ok, list_sort(list_distinct(list(l_partkey))) AS ps
      |  FROM lineitem GROUP BY 1),
      |it AS (SELECT ok, unnest(ps) AS pk FROM baskets),
      |pp AS (SELECT pk, COUNT(*) AS n_p FROM it GROUP BY 1),
      |pairs AS (
      |  SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS n_ab
      |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT pa, pb, n_ab,
      |       CAST((n_ab * 10000) // (x.n_p + y.n_p - n_ab) AS BIGINT) AS jac_bp,
      |       CAST((n_ab * 10000) // x.n_p AS BIGINT) AS conf_ab_bp,
      |       CAST((n_ab * 10000) // y.n_p AS BIGINT) AS conf_ba_bp
      |FROM pairs JOIN pp x ON pa = x.pk JOIN pp y ON pb = y.pk
      |ORDER BY jac_bp DESC, pa, pb LIMIT 100""".stripMargin)

  /** Targeted salted join — the explicit hot-key skew armor for
    * fact⋈fact joins (the production pattern behind AQE's skew-join,
    * portable to the cases AQE can't rewrite: required output
    * partitioning above the join, storage-partitioned reads, streaming
    * micro-batches). Mechanics:
    *   1. DETECT: per-key counts on the probe side; keys ≥ the hot
    *      threshold become the broadcast hot set H (at 100 TB this
    *      pre-agg is replaced by a sample or the q_heavy_hitters CMS
    *      census — H is always tiny, it's the whole point of "hot").
    *   2. SALT the probe side: rows of hot keys get salt =
    *      pmod(l_linenumber, R) (any per-row value works — it only
    *      spreads), cold keys salt 0 — so the hot key's rows land in R
    *      different reduce tasks instead of one straggler.
    *   3. REPLICATE the build side: hot keys explode ×R (one copy per
    *      salt), cold keys ×1 — replication is paid ONLY on |H| keys.
    *   4. Join on (key, salt): every probe row meets exactly the one
    *      build copy carrying its salt, so the result is provably
    *      row-identical to the plain join — which is exactly what the
    *      oracle checks (plain join + aggregate, no salt anywhere).
    * R=8 here; the knob trades |H|·R build-row replication for R-way
    * parallelism on each hot key. Membership tests against H are
    * broadcast hash joins (null-safe: H carries no nulls by
    * construction). The post-join census aggregates by priority, so
    * the salt never leaks into results. */
  private val joinSalted = QueryDef(
    (s, dir) => {
      import s.implicits._
      val R = 8
      // r14: fan the single-row-group lineitem scan out (Tables.spread)
      // — JobProf showed the probe map stage (broadcast-hot join +
      // shuffle write) running as ONE 0.8 s task off the unsplit scan;
      // hashing on the join key also lets the hot-key census and the
      // probe leg share the exchange (ReusedExchange), so the scan runs
      // once instead of twice (§2.4/§6)
      val li = Tables.spread(Tables.lineitem(s, dir), "l_orderkey")
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_discount")
      val hot = li.groupBy($"l_orderkey").agg(count(lit(1)).as("n"))
        .filter($"n" >= 6).select($"l_orderkey".as("hk"))
      val probe = li.join(broadcast(hot), $"l_orderkey" === $"hk", "left_outer")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount",
          when($"hk".isNotNull, pmod($"l_linenumber", lit(R)))
            .otherwise(lit(0)).cast("int").as("salt"))
      val build = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority")
        .join(broadcast(hot), $"o_orderkey" === $"hk", "left_outer")
        .select($"o_orderkey", $"o_orderpriority",
          explode(when($"hk".isNotNull, sequence(lit(0), lit(R - 1)))
            .otherwise(array(lit(0)))).as("salt"))
      probe.join(build,
          $"l_orderkey" === $"o_orderkey" && probe("salt") === build("salt"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Incremental.r4s(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .cast("decimal(28,10)"))).as("rev"))
        .orderBy($"o_orderpriority")
    },
    """SELECT o_orderpriority, COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                           AS DECIMAL(28,10))), 4) AS DOUBLE) AS rev
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** Banded fuzzy entity-resolution join: match customer entity keys
    * against supplier entity keys within edit distance 1, WITHOUT the
    * all-pairs comparison. Keys are the 9-char zero-padded id block of
    * the entity name (position 10..18 of `Customer#…`/`Supplier#…`).
    *
    * Blocking is the pigeonhole band for equal-length strings: lev = 1
    * between two length-9 strings can only be ONE substitution (an
    * insert or delete changes length), and one substitution leaves
    * either the 5-char prefix or the 4-char suffix untouched — so
    * (nationkey, prefix5) ∪ (nationkey, suffix4) equi-joins generate a
    * candidate superset, UNION-deduped, then verified with exact
    * `levenshtein`. Scale: two hash equi-joins on narrow blocking keys
    * + a per-candidate O(81) verify — never customer×supplier; the
    * block sizes are bounded by key-prefix cardinality, and at 100 TB
    * the same bands hash-partition both sides with no skew beyond the
    * natural prefix distribution (saltable like any equi key). */
  private val fuzzyJoin = QueryDef(
    (s, dir) => {
      import s.implicits._
      val c = Tables.customer(s, dir)
        .select($"c_custkey", $"c_nationkey",
          substring($"c_name", 10, 9).as("ck"))
      val sup = Tables.supplier(s, dir)
        .select($"s_suppkey", $"s_nationkey",
          substring($"s_name", 10, 9).as("sk"))
      def band(cKey: Column, sKey: Column): DataFrame =
        c.join(sup,
          $"c_nationkey" === $"s_nationkey" && cKey === sKey)
          .select($"c_custkey", $"s_suppkey", $"ck", $"sk")
      val cand = band(substring($"ck", 1, 5), substring($"sk", 1, 5))
        .union(band(substring($"ck", 6, 4), substring($"sk", 6, 4)))
        .distinct()
      cand
        .select($"c_custkey", $"s_suppkey",
          levenshtein($"ck", $"sk").cast("long").as("dist"))
        .filter($"dist" <= 1)
        .orderBy($"c_custkey", $"s_suppkey")
    },
    """WITH c AS (SELECT c_custkey, c_nationkey, substring(c_name,10,9) AS ck
      |           FROM customer),
      |s AS (SELECT s_suppkey, s_nationkey, substring(s_name,10,9) AS sk
      |      FROM supplier),
      |cand AS (
      |  SELECT c.c_custkey, s.s_suppkey, c.ck, s.sk
      |  FROM c JOIN s ON c.c_nationkey = s.s_nationkey
      |              AND substring(c.ck,1,5) = substring(s.sk,1,5)
      |  UNION
      |  SELECT c.c_custkey, s.s_suppkey, c.ck, s.sk
      |  FROM c JOIN s ON c.c_nationkey = s.s_nationkey
      |              AND substring(c.ck,6,4) = substring(s.sk,6,4))
      |SELECT c_custkey, s_suppkey, CAST(levenshtein(ck, sk) AS BIGINT) AS dist
      |FROM cand WHERE levenshtein(ck, sk) <= 1
      |ORDER BY c_custkey, s_suppkey""".stripMargin)

  val defs: Seq[(String, QueryDef)] = Seq(
    "q_fuzzy_join" -> fuzzyJoin,
    "q_join_salted" -> joinSalted,
    "q_basket_lift" -> basketLift,
    "q_item_similarity" -> itemSimilarity,
    "q_bloom_join" -> bloomJoin,
    "q_tpch_q11" -> tpchQ11,
    "q_tpch_q16" -> tpchQ16,
    "q_tpch_q20" -> tpchQ20,
    "q_rfm" -> rfm,
    "q_bucketed_join" -> bucketedJoin,
    "q_tpch_q2" -> tpchQ2,
    "q_tpch_q9" -> tpchQ9,
    "q_tpch_q1" -> tpchQ1,
    "q_tpch_q4" -> tpchQ4,
    "q_tpch_q6" -> tpchQ6,
    "q_tpch_q19" -> tpchQ19,
    "q_tpch_q10" -> tpchQ10,
    "q_tpch_q12" -> tpchQ12,
    "q_tpch_q14" -> tpchQ14,
    "q_tpch_q18" -> tpchQ18,
    "q_tpch_q13" -> tpchQ13,
    "q_tpch_q15" -> tpchQ15,
    "q_tpch_q17" -> tpchQ17,
    "q_tpch_q21" -> tpchQ21,
    "q_tpch_q22" -> tpchQ22,
    "q_tpch_q7" -> tpchQ7,
    "q_tpch_q8" -> tpchQ8,
    "q_tpch_q3" -> tpchQ3,
    "q_tpch_q5" -> tpchQ5,
    "q_scd_join" -> scdJoin,
    "q_join_inner" -> joinInner,
    "q_join_multiway" -> joinMultiway,
    "q_join_outer" -> joinOuter,
    "q_join_semi" -> joinSemi,
    "q_join_anti" -> joinAnti,
    "q_join_range" -> joinRange,
    "q_join_asof" -> joinAsof,
    "q_join_asof_fwd" -> joinAsofFwd,
    "q_join_asof_near" -> joinAsofNear)
}
