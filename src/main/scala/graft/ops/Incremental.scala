package graft.ops

import graft.QueryDef
import graft.util.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's own semantics, re-grounded on the `events` fixture
  * (SURVEY.md §2.10, §3): watermark → bounded delta → daily per-group
  * mean → append. Plus batch forms of the three window kinds
  * (tumbling / sliding / session); only the tumbling one has a live
  * Structured Streaming form, `graft.streaming.Streams.dailyAvg`, which
  * is MemoryStream-tested (no oracle — runtime semantics, SURVEY.md
  * §5.2.4).
  *
  * Determinism: raw `events.ts` is nanosecond-precision and never
  * emitted or compared un-truncated (SURVEY.md §7.4). Window starts are
  * emitted as epoch SECONDS (BIGINT) so both engines hash identically.
  */
object Incremental {

  /** Deterministic 4-decimal rounding of an exact DECIMAL sum, driver-proof
    * across engine builds (r3's one red): the rounding happens IN DECIMAL
    * (exact integer arithmetic, half-away-from-zero on both engines), and
    * the only decimal→double cast left is of a scale-4 value whose unscaled
    * magnitude stays far below 2^53 — every implementation converts that
    * correctly rounded, so the double is bit-identical on Spark and any
    * DuckDB build. (The previous floor(x·1e4+0.5) formula cast the raw
    * scale-10 sum to double FIRST; with unscaled > 2^53 that cast is
    * implementation-sensitive, the suspected r3 driver-vs-local delta.)
    * Oracle mirror: CAST(ROUND(SUM(...), 4) AS DOUBLE). */
  private[graft] def r4s(sumDec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(sumDec, 4).cast("double")

  /** Deterministic 4-decimal mean (exact DECIMAL sum) / n. The sum is
    * rounded to 6 decimals in decimal and widened to an exact BIGINT of
    * 1e-6 units (integer arithmetic end-to-end), so the division is ONE
    * fully-IEEE-specified double op on exactly-representable operands
    * (|num| < 2^53, n·100 < 2^53); the half-up rounding is floor(x+0.5)
    * on bit-identical doubles. No fractional decimal→double cast remains.
    * Oracle mirror:
    *   FLOOR(CAST(CAST(CAST(ROUND(S, 6) AS DECIMAL(24,6)) * 1000000
    *     AS BIGINT) AS DOUBLE) / (n * 100.0) + 0.5) / 10000.0 */
  private[graft] def r4a(sumDec: org.apache.spark.sql.Column,
                         n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor((round(sumDec, 6).cast("decimal(24,6)") * lit(1000000)).cast("long").cast("double")
      / (n.cast("double") * lit(100.0)) + lit(0.5)).cast("double") / lit(1e4)

  // ---- integer-unit sums (r8 perf tier for GRID-VALUED measures) ----
  //
  // When a measure's TRUE values lie on a 10^-s grid (audited per use:
  // fixture currencies/rates are 2-decimal; their 2-op products land on
  // the 4- and 6-decimal grids within ~1e-11 — half-spacing 5e-7), the
  // exact sum can run as a plain codegen'd LONG sum of ROUND(x·10^s)
  // instead of a Decimal sum: ~2× the decimal path at sf0.1 (probed:
  // 0.69 s vs 1.35 s for q_tpch_q1's five sums — Spark's Sum over
  // DecimalType pays per-row Decimal boxing + overflow checks in the
  // partial agg regardless of precision). ROUND never sits at a .5
  // boundary because the true value is ON the grid, so both engines
  // recover the identical integer. The decimal discipline (r4s/r4a)
  // remains the default for measures without a grid guarantee.

  /** Exact unit sum: Σ ROUND(x·10^s) as BIGINT. The per-row double ROUND
    * runs as the native kernel (graft.functions.DoubleRound, substituted
    * for Spark's BigDecimal ROUND by the session's optimizer rule, same
    * bits); a grid-valued x·10^s sits near an integer, so every row takes
    * its double-arithmetic path.
    * Oracle mirror: SUM(CAST(ROUND(x * 10^s) AS BIGINT)). */
  private[graft] def unitSum(x: org.apache.spark.sql.Column,
                             scale: Int): org.apache.spark.sql.Column = {
    require(scale >= 0 && scale <= 6, s"unitSum scale $scale out of range")
    sum(round(x * lit(math.pow(10, scale).toLong)).cast("long"))
  }

  /** 4-decimal presentation of a unit sum (NON-NEGATIVE sums when
    * scale > 4 — the half-up shift assumes positive): shift the exact
    * integer to 1e-4 units (half-up via FLOOR((S+half)/10^(s-4)) when
    * narrowing — exact while S+half < 2^53, and beyond that BOTH
    * engines compute the identical cast+divide+floor chain, so
    * determinism survives even where the 4th decimal goes approximate),
    * then ONE integer→DOUBLE cast / 1e4.
    * Oracle mirror, scale ≤ 4:  CAST(S * 10^(4-s) AS DOUBLE) / 10000.0
    *   scale > 4:  FLOOR(CAST(S + 5*10^(s-5) AS DOUBLE) / 10^(s-4))
    *               / 10000.0 */
  private[graft] def units4(s: org.apache.spark.sql.Column,
                            scale: Int): org.apache.spark.sql.Column = {
    if (scale <= 4)
      (s * lit(math.pow(10, 4 - scale).toLong)).cast("double") / lit(1e4)
    else
      floor((s + lit(5L * math.pow(10, scale - 5).toLong)).cast("double")
        / lit(math.pow(10, scale - 4))).cast("double") / lit(1e4)
  }

  /** 4-decimal mean of a unit sum over n rows — the [[r4a]] shape with
    * the exact numerator already integral: num_1e6 = S·10^(6-s), one
    * IEEE division, floor(x+0.5).
    * Oracle mirror: FLOOR(CAST(S * 10^(6-s) AS DOUBLE)
    *                      / (n * 100.0) + 0.5) / 10000.0 */
  private[graft] def unitsAvg4(s: org.apache.spark.sql.Column,
                               n: org.apache.spark.sql.Column,
                               scale: Int): org.apache.spark.sql.Column = {
    require(scale <= 6, s"unitsAvg4 scale $scale > 6")
    floor((s * lit(math.pow(10, 6 - scale).toLong)).cast("double")
      / (n.cast("double") * lit(100.0)) + lit(0.5)).cast("double") / lit(1e4)
  }

  /** FLAGSHIP — the reference's core computation (energy_etl.py:69-70):
    * reduce each (day, group)'s records to one mean row. 24×+ volume cut
    * happens map-side via partial aggregation before the shuffle.
    *
    * The mean is computed as SUM(decimal)/COUNT rather than AVG(double):
    * decimal addition is exact and associative, so the numerator is
    * bit-identical regardless of partial-aggregation order — double
    * summation order differs between engines and a 1-ulp drift at a
    * ROUND half-way boundary flips the 4th decimal (observed at
    * sf0.001). */
  private val dailyAvg = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(to_date($"ts").as("date"), $"event_type")
        .agg(
          r4a(sum($"value".cast("decimal(28,10)")), count(lit(1))).as("avg_value"),
          count(lit(1)).as("n"))
        .orderBy($"date", $"event_type")
    },
    """SELECT CAST(ts AS DATE) AS date, event_type,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS avg_value,
      |       COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Watermark scalar — MAX(date) resume point (energy_etl.py:25-28,:32). */
  private val watermarkMax = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .agg(max(to_date($"ts")).as("latest_date"), count(lit(1)).as("n"))
    },
    """SELECT MAX(CAST(ts AS DATE)) AS latest_date, COUNT(*) AS n
      |FROM events""".stripMargin)

  /** Watermark-driven delta batch (energy_etl.py:41-48): compute
    * MAX(ts) over the already-loaded half, then process only newer rows.
    * The single-scalar collect is the one permitted driver-side read
    * (SURVEY.md §7.5); everything else stays distributed. Truncated to
    * second granularity so both engines compare identical instants. */
  private val incrementalDelta = QueryDef(
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val cutoff = to_timestamp(lit("2024-01-15 00:00:00"))
      val wm = ev.filter($"ts" < cutoff)
        .agg(max(date_trunc("second", $"ts")))
        .first().getTimestamp(0)
      ev.filter(date_trunc("second", $"ts") > lit(wm))
        .groupBy(to_date($"ts").as("date"))
        .agg(count(lit(1)).as("n"),
          r4a(sum($"value".cast("decimal(28,10)")), count(lit(1))).as("avg_value"))
        .orderBy($"date")
    },
    """SELECT CAST(ts AS DATE) AS date, COUNT(*) AS n,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS avg_value
      |FROM events
      |WHERE date_trunc('second', ts) >
      |      (SELECT MAX(date_trunc('second', ts)) FROM events
      |       WHERE ts < TIMESTAMP '2024-01-15 00:00:00')
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Incremental materialized-view maintenance by STATE MERGE — the
    * third incremental tier next to q_incremental_delta (recompute the
    * new slice) and q_late_reconcile (re-aggregate affected
    * partitions): the standing (day, type) rollup carries MERGEABLE
    * state — exact decimal sum + count, never the average — and a new
    * delta batch folds in as `merge(state, agg(delta))`, touching NO
    * historical raw rows. The average derives at read time from the
    * merged state (r4a). Dates straddling the cutoff genuinely exercise
    * the merge (their groups hold one partial row from each side), and
    * decimal addition is exact, so the ORACLE — a direct full recompute
    * over all events — proves `merge ≡ recompute` bit-for-bit: the
    * algebraic-mergeability property every incremental MV rests on.
    * (Storing the average itself would make the state non-mergeable —
    * the classic MV bug this query's oracle would catch.)
    *
    * Scale: the delta aggregates two-phase at |delta| cost; the merge
    * shuffles |days × types| state rows; history is never rescanned —
    * at 100 TB that is the difference between a daily O(delta) job and
    * a daily O(table) job. */
  private val incrementalRollup = QueryDef(
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val cutoff = to_timestamp(lit("2024-01-15 00:00:00"))
      def partials(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(to_date($"ts").as("date"), $"event_type")
        .agg(count(lit(1)).as("pn"),
          sum($"value".cast("decimal(28,10)")).as("ps"))
      val state = partials(ev.filter($"ts" < cutoff)) // yesterday's MV
      val delta = partials(ev.filter($"ts" >= cutoff)) // today's batch
      state.unionByName(delta)
        .groupBy($"date", $"event_type")
        .agg(sum($"pn").cast("long").as("n"), sum($"ps").as("ms"))
        .select($"date", $"event_type", $"n",
          r4a($"ms", $"n").as("avg_value"))
        .orderBy($"date", $"event_type")
    },
    """SELECT CAST(ts AS DATE) AS date, event_type, COUNT(*) AS n,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS avg_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Salted two-phase aggregation over the maximally-skewed key
    * (event_type: 5 values over the whole fact table) — the
    * Scale.saltedAgg skew pattern as a verified query. Partials are
    * exact decimals, so the result is bit-identical to the direct
    * groupBy no matter how the nondeterministic salt scatters rows
    * (that independence is the point of the pattern: AQE splits skewed
    * JOIN partitions but not aggregation keys). */
  private val aggSalted = QueryDef(
    (s, dir) => {
      import s.implicits._
      val partial = Seq(
        sum($"value".cast("decimal(28,10)")).as("s"),
        count(lit(1)).as("c"))
      val merge = Seq(
        r4a(sum($"s"), sum($"c")).as("avg_value"),
        sum($"c").as("n"))
      Scale.saltedAgg(
          Tables.events(s, dir),
          $"event_type", 16, partial, merge)
        .select($"_k".as("event_type"), $"avg_value", $"n")
        .orderBy($"event_type")
    },
    """SELECT event_type,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS avg_value,
      |       COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Tumbling 1-day window — batch analog of the streaming daily agg
    * (reference's daily bucketing :69-70 = 1-day tumbling window). */
  private val streamTumbling = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts", "1 day"), $"event_type")
        .agg(count(lit(1)).as("n"),
          r4s(sum($"value".cast("decimal(28,10)"))).as("sval"))
        .select($"window.start".cast("date").as("day"), $"event_type", $"n", $"sval")
        .orderBy($"day", $"event_type")
    },
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |       COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 4) AS DOUBLE) AS sval
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Sliding window (6h size, 3h slide): each event lands in exactly two
    * windows; start emitted as epoch seconds. Oracle replays the window
    * assignment arithmetic (epoch-aligned, same as Spark's origin). */
  private val streamSliding = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts", "6 hours", "3 hours"), $"event_type")
        .agg(count(lit(1)).as("n"),
          r4s(sum($"value".cast("decimal(28,10)"))).as("sval"))
        .select($"window.start".cast("long").as("ws_epoch"), $"event_type",
          $"n", $"sval")
        .orderBy($"ws_epoch", $"event_type")
    },
    """SELECT ws_epoch, event_type, COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 4) AS DOUBLE) AS sval
      |FROM (
      |  SELECT CAST(FLOOR(epoch(ts)/10800) AS BIGINT)*10800 - o.o*10800 AS ws_epoch,
      |         event_type, value
      |  FROM events CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) o(o))
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Session window (6h gap) per user — batch analog. Oracle mirrors
    * Spark's boundary rule: a gap of EXACTLY the timeout starts a new
    * session (event joins a session only while ts < session end). */
  private val sessionWindow = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(session_window($"ts", "6 hours"), $"user_id")
        .agg(count(lit(1)).as("n"),
          r4s(sum($"value".cast("decimal(28,10)"))).as("sval"))
        .select($"user_id",
          $"session_window.start".cast("long").as("session_start"),
          $"n", $"sval")
        .orderBy($"user_id", $"session_start")
    },
    """WITH marked AS (
      |  SELECT user_id, ts, value, event_id,
      |         CASE WHEN LAG(ts) OVER w IS NULL
      |                OR ts - LAG(ts) OVER w >= INTERVAL 6 HOUR
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts, value,
      |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked)
      |SELECT user_id, CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start,
      |       COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 4) AS DOUBLE) AS sval
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin)

  /** Gap filling + LOCF (last-observation-carried-forward) — the
    * canonical daily-price-series repair the reference's dashboard
    * implicitly needs (a zone-day with no API data is a gap). Sparse
    * series = days whose events exceed a value threshold; the full
    * (day × event_type) grid is generated, then missing days carry the
    * last observed value forward per type. No driver-side collection:
    * the date bounds come from a broadcast 1-row aggregate. */
  private val gapFill = QueryDef(
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val sparse = ev.filter($"value" > 250)
        .groupBy(to_date($"ts").as("d"), $"event_type")
        .agg(r4a(sum($"value".cast("decimal(28,10)")), count(lit(1))).as("v"))
      val bounds = ev.agg(min(to_date($"ts")).as("lo"), max(to_date($"ts")).as("hi"))
      val days = bounds
        .select(explode(sequence($"lo", $"hi", expr("interval 1 day"))).as("d"))
      val types = ev.select($"event_type").distinct()
      val w = Window.partitionBy($"event_type").orderBy($"d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      days.crossJoin(types)
        .join(sparse, Seq("d", "event_type"), "left")
        .withColumn("filled", last($"v", ignoreNulls = true).over(w))
        .select($"d", $"event_type",
          coalesce($"filled", lit(0.0)).as("filled"),
          $"v".isNull.as("was_gap"))
        .orderBy($"d", $"event_type")
    },
    """WITH sparse AS (
      |  SELECT CAST(ts AS DATE) AS d, event_type,
      |         FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS v
      |  FROM events WHERE value > 250 GROUP BY 1, 2),
      |days AS (
      |  SELECT CAST(UNNEST(generate_series(
      |           (SELECT MIN(CAST(ts AS DATE)) FROM events),
      |           (SELECT MAX(CAST(ts AS DATE)) FROM events),
      |           INTERVAL 1 DAY)) AS DATE) AS d),
      |grid AS (SELECT d, event_type
      |         FROM days CROSS JOIN (SELECT DISTINCT event_type FROM events)),
      |joined AS (
      |  SELECT g.d, g.event_type, s.v,
      |         LAST_VALUE(s.v IGNORE NULLS) OVER (
      |           PARTITION BY g.event_type ORDER BY g.d
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |  FROM grid g LEFT JOIN sparse s
      |    ON g.d = s.d AND g.event_type = s.event_type)
      |SELECT d, event_type, COALESCE(filled, 0.0) AS filled,
      |       v IS NULL AS was_gap
      |FROM joined ORDER BY d, event_type""".stripMargin)

  /** Late-data reconciliation — partition-pruned re-aggregation, the
    * incremental-maintenance semantic the reference lacks entirely (its
    * append at energy_etl.py:105 never corrects a day once written).
    * A late-arriving delta (here the deterministic ~1% slice
    * event_id % 97 = 0, standing in for rows that missed their batch)
    * touches only SOME days; the engine recomputes exactly those
    * (day) partitions — base rows semi-joined to the affected-day set,
    * unioned with the delta — and passes every untouched day's
    * already-aggregated row through from stored partials, marking which
    * rows were restated.
    *
    * Scale: the affected-day set is tiny (bounded by the delta's day
    * span) and broadcast, so the base fact table is read ONLY under a
    * pushed-down day predicate (partition pruning on a date-partitioned
    * table — PlanSpec pins the broadcast + semi shape); the untouched
    * side touches no facts at all, just the |days| aggregate table.
    * The result is identical to a full recompute — which is exactly
    * what the oracle states. */
  private val lateReconcile = QueryDef(
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(to_date($"ts").as("d"), $"event_id", $"value")
      val isLate = $"event_id" % 97 === 0
      val late = ev.filter(isLate)
      val base = ev.filter(!isLate)
      // the stored daily aggregate: exact decimal partials (sum, count)
      // so restated days merge bit-identically with the delta
      val baseAgg = base.groupBy($"d")
        .agg(sum($"value".cast("decimal(28,10)")).as("sv"), count(lit(1)).as("c"))
      val affected = late.select($"d").distinct()
      val restated = base.join(broadcast(affected), Seq("d"), "left_semi")
        .unionByName(late.select($"d", $"event_id", $"value"))
        .groupBy($"d")
        .agg(r4a(sum($"value".cast("decimal(28,10)")), count(lit(1))).as("avg_value"),
          count(lit(1)).as("n"))
        .withColumn("restated", lit(true))
      val untouched = baseAgg.join(broadcast(affected), Seq("d"), "left_anti")
        .select($"d", r4a($"sv", $"c").as("avg_value"), $"c".as("n"),
          lit(false).as("restated"))
      restated.select($"d", $"avg_value", $"n", $"restated")
        .unionByName(untouched)
        .orderBy($"d")
    },
    """SELECT CAST(ts AS DATE) AS d,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS avg_value,
      |       COUNT(*) AS n,
      |       CAST(ts AS DATE) IN (SELECT DISTINCT CAST(ts AS DATE)
      |                            FROM events WHERE event_id % 97 = 0) AS restated
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Volume-anomaly detection — the load-quality check an incremental
    * daily pipeline needs (the reference has no defense against a
    * partial-day API response: a day with half its hours missing still
    * lands at energy_etl.py:105 and skews the dashboard mean). Flags
    * each (day, type) whose row count deviates > 20% from that type's
    * across-days mean count. All comparisons are integer
    * cross-multiplications (|n·days − total| · 5 > total·days ⟺
    * |n − mean| > 0.2·mean) and the reported deviation is an integer
    * basis-point ratio — bit-exact on any engine, no doubles anywhere.
    * Scale: one two-phase count per (day, type), one |types|-row
    * broadcast join back; overflow-safe to n ≈ 2^40 rows/day. */
  private val volumeAnomaly = QueryDef(
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy(to_date($"ts").as("d"), $"event_type")
        .agg(count(lit(1)).as("n"))
      val typ = daily.groupBy($"event_type")
        .agg(sum($"n").as("total"), count(lit(1)).as("days"))
      daily.join(broadcast(typ), "event_type")
        .select($"d", $"event_type", $"n",
          // `div` (not `/`): exact BIGINT division — a double quotient
          // cast to long can land on the wrong side of an integer
          // boundary; DuckDB's `//` mirrors the exact form
          expr("n * days * 10000 div total").cast("long").as("ratio_bp"),
          (abs($"n" * $"days" - $"total") * 5L > $"total" * $"days")
            .as("anomaly"))
        .orderBy($"d", $"event_type")
    },
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |typ AS (
      |  SELECT event_type, SUM(n) AS total, COUNT(*) AS days
      |  FROM daily GROUP BY 1)
      |SELECT d, daily.event_type, n,
      |       CAST(n * days * 10000 // total AS BIGINT) AS ratio_bp,
      |       abs(n * days - total) * 5 > total * days AS anomaly
      |FROM daily JOIN typ ON daily.event_type = typ.event_type
      |ORDER BY d, daily.event_type""".stripMargin)

  /** Z-order (Morton) clustering stats (§2.1 layout / data-skipping
    * surface, the 2-D complement of Pipeline.clusteredWrite's 1-D range
    * publish): interleave (l_partkey, l_suppkey) bits into one
    * clustering key, then report per 32×32 tile the row count and BOTH
    * dimensions' min/max. The point the numbers make: sorted by z, every
    * file's footer min/max is narrow in part AND supplier simultaneously
    * (p_max−p_min ≤ 31, s_max−s_min ≤ 31 per tile — the Morton tile
    * property, pinned exactly in ScaleSpec), so scans filtered on either
    * column skip files; a single-key sort leaves the other column
    * full-range per file. The interleave is pure bit arithmetic emitted
    * identically to the oracle by Scale.zOrderSql; at 100 TB the write
    * path is repartitionByRange(z) + sortWithinPartitions(z), same as
    * clusteredWrite with z as the key. */
  private val zorder = QueryDef(
    (s, dir) => {
      import s.implicits._
      val x = $"l_partkey".bitwiseAND(lit(65535L))
      val y = $"l_suppkey".bitwiseAND(lit(65535L))
      Tables.lineitem(s, dir)
        .select($"l_partkey", $"l_suppkey")
        .withColumn("z", Scale.zOrderKey(x, y, 16))
        .withColumn("tile", shiftright($"z", 10))
        .groupBy($"tile")
        .agg(count(lit(1)).as("n"),
          min($"l_partkey").as("p_min"), max($"l_partkey").as("p_max"),
          min($"l_suppkey").as("s_min"), max($"l_suppkey").as("s_max"))
        .orderBy($"tile")
    },
    s"""WITH b AS (
      |  SELECT l_partkey, l_suppkey,
      |         l_partkey & 65535 AS x, l_suppkey & 65535 AS y
      |  FROM lineitem),
      |z AS (
      |  SELECT l_partkey, l_suppkey,
      |         ${Scale.zOrderSql("x", "y", 16)} AS z
      |  FROM b)
      |SELECT z >> 10 AS tile, COUNT(*) AS n,
      |       MIN(l_partkey) AS p_min, MAX(l_partkey) AS p_max,
      |       MIN(l_suppkey) AS s_min, MAX(l_suppkey) AS s_max
      |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Key-skew census per partition-key candidate — the measurement
    * that DECIDES salting ([[Scale.saltedAgg]] / AQE skew thresholds)
    * instead of guessing: per event_type, the distinct-key count,
    * total rows, the heaviest key's row count, its share of the
    * type's rows, and max/mean in exact basis points (integer
    * cross-multiplication — no doubles, `div` on both engines).
    * max_over_mean_bp ≈ 10000 means uniform keys; ≥ a few × 10000
    * means the heaviest key dominates its reducer and the downstream
    * aggregate wants a salt.
    *
    * Scale: two chained two-phase hash aggregates — per-(type, key)
    * counts shuffle once on the composite key (map-side combine
    * absorbs the hot key's rows), the per-type rollup shuffles
    * |distinct keys| pre-reduced rows. Nothing driver-side. */
  private val skewProfile = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"event_type", $"user_id")
        .agg(count(lit(1)).as("c"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_keys"),
          sum($"c").as("n_rows"),
          max($"c").as("max_cnt"))
        .select($"event_type", $"n_keys", $"n_rows", $"max_cnt",
          expr("max_cnt * 10000 div n_rows").cast("long").as("top1_share_bp"),
          expr("max_cnt * n_keys * 10000 div n_rows").cast("long")
            .as("max_over_mean_bp"))
        .orderBy($"event_type")
    },
    """WITH pk AS (
      |  SELECT event_type, user_id, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type,
      |       COUNT(*) AS n_keys,
      |       CAST(SUM(c) AS BIGINT) AS n_rows,
      |       CAST(MAX(c) AS BIGINT) AS max_cnt,
      |       CAST(MAX(c) * 10000 // SUM(c) AS BIGINT) AS top1_share_bp,
      |       CAST(MAX(c) * COUNT(*) * 10000 // SUM(c) AS BIGINT) AS max_over_mean_bp
      |FROM pk GROUP BY 1 ORDER BY 1""".stripMargin)

  /** CDC merge (MERGE INTO / upsert-apply): treat the event stream as a
    * per-user changelog — 'signup' and the activity types carry an
    * upserted `value`, 'error' is a delete tombstone — and produce the
    * CURRENT snapshot: latest op per key wins (ts, then event_id as the
    * deterministic tiebreak), tombstoned keys drop out. This is the
    * batch semantics of Delta/Iceberg MERGE and of compacting a Kafka
    * changelog topic.
    *
    * Scale: ONE hash shuffle on the merge key + one per-partition sort
    * serves both the latest-wins rank and the per-key op count; no
    * driver state. At 100 TB this is exactly the incremental-snapshot
    * compaction plan you'd run, with the changelog side date-partition-
    * pruned to the delta. */
  private val cdcMerge = QueryDef(
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts".desc, $"event_id".desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("n_ops", count(lit(1)).over(Window.partitionBy($"user_id")))
        .filter($"rn" === 1 && $"event_type" =!= "error")
        .select($"user_id",
          $"event_type".as("last_op"),
          // raw per-row double passthrough — no aggregation, so both
          // engines emit the identical parquet bits (no ROUND gotcha)
          $"value".as("last_value"),
          $"ts".cast("long").as("last_ts"),
          $"n_ops")
        .orderBy($"user_id")
    },
    """WITH ranked AS (
      |  SELECT user_id, event_type, value, ts, event_id,
      |         ROW_NUMBER() OVER (PARTITION BY user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn,
      |         COUNT(*) OVER (PARTITION BY user_id) AS n_ops
      |  FROM events)
      |SELECT user_id, event_type AS last_op,
      |       value AS last_value,
      |       CAST(FLOOR(epoch(ts)) AS BIGINT) AS last_ts, n_ops
      |FROM ranked WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin)

  /** Exponentially weighted moving average over the per-type daily
    * volume series — the smoothing step a monitoring/forecast pipeline
    * runs downstream of q_daily_avg (Holt's level component, α = 1/2).
    *
    * Determinism is the whole design: a recursive EWMA of doubles is
    * order-sensitive and engine-divergent, so this uses a TRUNCATED
    * dyadic kernel in exact integer arithmetic end-to-end —
    * s4 = daily total in 1e-4 units (exact decimal → BIGINT), then
    *   S_t = Σ_{j=0..9} s4_{t-j} · 2^(9-j)   (all int64, max ≈ 4e16)
    *   ewma_t = S_t / (1023 · 1e4 · ... )    (int64→double conversion
    * is correctly-rounded and unique; the divisor 1023e4 is exact) —
    * i.e. weights (1/2)^(j+1) normalized by (1 − 2^-10), the first 10
    * terms of the α=1/2 EWMA. Rows need a full 10-day history (row-lag
    * kernel; q_gap_fill owns calendar densification).
    *
    * Scale: one two-phase daily rollup (map-side combine crushes the
    * fact table to |types|·|days| rows), then lag windows over tiny
    * per-type series — the window input is already aggregate-sized. */
  /** Classical additive seasonal decomposition of the per-type daily
    * total series (the moving-average method behind STL's initial pass):
    *   x_t = trend_t + seasonal_dow(t) + residual_t
    * with trend = centered 7-day moving average and seasonal = the
    * per-day-of-week mean of the detrended series — the time-series
    * capstone over q_ewma / q_sax_symbols / q_dow_index / q_cusum.
    *
    * Exactness: the series is the exact 1e-4-unit BIGINT daily total
    * (q_ewma discipline); the ÷7 of the moving average is scaled away
    * (d_t = 7·x_t − T_t over the 7-term window sum), so detrended
    * values and the per-dow seasonal numerators are exact BIGINTs with
    * |·| < 2^53. Every emitted double is then ONE fully-specified IEEE
    * division of exact integers (trend = T/(7·10⁴), seasonal =
    * Σd/(c·7·10⁴)) or one subtraction of two such — bit-identical on
    * both engines with NO rounding step at all. Interior days only
    * (the full ±3-day window must exist). Day-of-week via Spark
    * dayofweek ≡ DuckDB dayofweek + 1 (the q_dow_index rule).
    *
    * Scale: everything after the daily rollup is |types × days| rows;
    * the MA is a 7-row frame over the keyed day sort (one shuffle),
    * the seasonal join is a broadcast |types×7|-row frame. */
  private val seasonalDecomp = QueryDef(
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("date"))
        .agg((round(sum($"value".cast("decimal(28,10)")), 4) * lit(10000))
          .cast("long").as("x4"))
      val w = Window.partitionBy($"event_type").orderBy($"date")
      val withT = daily
        .withColumn("t7", sum($"x4").over(w.rowsBetween(-3, 3)))
        .withColumn("nw", count(lit(1)).over(w.rowsBetween(-3, 3)))
        .filter($"nw" === 7)
        .withColumn("d", lit(7L) * $"x4" - $"t7")
        .withColumn("dow", dayofweek($"date").cast("long"))
      val seas = withT.groupBy($"event_type", $"dow")
        .agg(sum($"d").as("sd"), count(lit(1)).as("cd"))
      withT.join(broadcast(seas), Seq("event_type", "dow"))
        .select($"event_type", $"date",
          ($"x4".cast("double") / lit(1e4)).as("daily"),
          ($"t7".cast("double") / lit(7e4)).as("trend"),
          ($"sd".cast("double") / ($"cd".cast("double") * lit(7e4)))
            .as("seasonal"),
          ($"d".cast("double") / lit(7e4) -
            $"sd".cast("double") / ($"cd".cast("double") * lit(7e4)))
            .as("residual"))
        .orderBy($"event_type", $"date")
    },
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS date,
      |         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 4) * 10000
      |              AS BIGINT) AS x4
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, date, x4,
      |         SUM(x4) OVER (PARTITION BY event_type ORDER BY date
      |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7,
      |         COUNT(*) OVER (PARTITION BY event_type ORDER BY date
      |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw
      |  FROM d),
      |i AS (
      |  SELECT event_type, date, x4, t7, 7 * x4 - t7 AS dd,
      |         CAST(dayofweek(date) + 1 AS BIGINT) AS dow
      |  FROM t WHERE nw = 7),
      |se AS (
      |  SELECT event_type, dow, CAST(SUM(dd) AS BIGINT) AS sd,
      |         COUNT(*) AS cd
      |  FROM i GROUP BY 1, 2)
      |SELECT i.event_type, i.date,
      |       CAST(i.x4 AS DOUBLE) / 1e4 AS daily,
      |       CAST(i.t7 AS DOUBLE) / 7e4 AS trend,
      |       CAST(se.sd AS DOUBLE) / (CAST(se.cd AS DOUBLE) * 7e4) AS seasonal,
      |       CAST(i.dd AS DOUBLE) / 7e4
      |         - CAST(se.sd AS DOUBLE) / (CAST(se.cd AS DOUBLE) * 7e4) AS residual
      |FROM i JOIN se ON i.event_type = se.event_type AND i.dow = se.dow
      |ORDER BY i.event_type, i.date""".stripMargin)

  /** One-sided CUSUM drift detector over the per-type daily event
    * counts (Page 1954) — the SEQUENTIAL member of the drift family
    * (q_psi / q_ks_test / q_mad_outliers are batch two-sample tests;
    * CUSUM accumulates evidence day by day and is what a monitoring
    * loop actually pages on). The textbook recursion
    *   S_t = max(0, S_{t-1} + (x_t − target))
    * is not window-expressible, but its reflected-walk identity is:
    *   S_t = P_t − min_{j ≤ t} P_j,  P_t = Σ (x_j − target)
    * — one cumulative sum plus one running min, both over the SAME
    * (type)-keyed day-ordered window: a single shuffle, no recursion,
    * no driver loop. Exactness: x_t = the day's event count (integer),
    * target = first-7-day mean count scaled away as a rational
    * (everything ×7: d_t = 7·n_t − N₇), so P, min and S are exact
    * BIGINTs; the bp normalization is one integer division of positive
    * operands. Scale: input is the |types × days| daily rollup, never
    * raw events; the baseline is a broadcast |types|-row frame. */
  private val cusum = QueryDef(
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("date"))
        .agg(count(lit(1)).as("n"))
      val base = daily
        .withColumn("rk", row_number()
          .over(Window.partitionBy($"event_type").orderBy($"date")))
        .filter($"rk" <= 7)
        .groupBy($"event_type").agg(sum($"n").as("n7"))
      val w = Window.partitionBy($"event_type").orderBy($"date")
      daily.join(broadcast(base), "event_type")
        .withColumn("d", lit(7L) * $"n" - $"n7")
        .withColumn("p", sum($"d").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("pmin", least(min($"p")
          .over(w.rowsBetween(Window.unboundedPreceding, 0)), lit(0L)))
        .select($"event_type", $"date", $"n",
          ($"p" - $"pmin").as("cusum7"),
          expr("(10000 * (p - pmin)) DIV n7").as("cusum_bp"))
        .orderBy($"event_type", $"date")
    },
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS date, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |b AS (
      |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n7 FROM (
      |    SELECT event_type, n,
      |           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY date) AS rk
      |    FROM d) WHERE rk <= 7 GROUP BY 1),
      |p AS (
      |  SELECT d.event_type, d.date, d.n,
      |         SUM(7 * d.n - b.n7) OVER (PARTITION BY d.event_type
      |           ORDER BY d.date ROWS UNBOUNDED PRECEDING) AS p,
      |         b.n7
      |  FROM d JOIN b ON d.event_type = b.event_type)
      |SELECT event_type, date, n,
      |       CAST(p - LEAST(MIN(p) OVER (PARTITION BY event_type
      |              ORDER BY date ROWS UNBOUNDED PRECEDING), 0)
      |            AS BIGINT) AS cusum7,
      |       CAST((10000 * (p - LEAST(MIN(p) OVER (PARTITION BY event_type
      |              ORDER BY date ROWS UNBOUNDED PRECEDING), 0))) // n7
      |            AS BIGINT) AS cusum_bp
      |FROM p ORDER BY event_type, date""".stripMargin)

  private val ewma = QueryDef(
    (s, dir) => {
      import s.implicits._
      val K = 10
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("date"))
        .agg((round(sum($"value".cast("decimal(28,10)")), 4) * lit(10000))
          .cast("long").as("s4"))
      val w = Window.partitionBy($"event_type").orderBy($"date")
      val terms = (0 until K).map(j => lag($"s4", j).over(w) * lit(1L << (K - 1 - j)))
      daily
        .withColumn("s_w", terms.reduce(_ + _))
        .filter($"s_w".isNotNull) // needs the full K-day history
        .select($"event_type", $"date",
          ($"s4".cast("double") / lit(1e4)).as("daily"),
          ($"s_w".cast("double") / lit(((1L << K) - 1) * 1e4)).as("ewma"))
        .orderBy($"event_type", $"date")
    },
    ("""WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS date,
      |         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 4) * 10000 AS BIGINT) AS s4
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, date, s4,
      |         """ +
      (0 until 10).map(j =>
        s"LAG(s4, $j) OVER (PARTITION BY event_type ORDER BY date) * ${1L << (9 - j)}")
        .mkString(" +\n      |         ") + """ AS s_w
      |  FROM d)
      |SELECT event_type, date,
      |       CAST(s4 AS DOUBLE) / 1e4 AS daily,
      |       CAST(s_w AS DOUBLE) / (1023 * 1e4) AS ewma
      |FROM w WHERE s_w IS NOT NULL
      |ORDER BY event_type, date""").stripMargin)

  /** Period-over-period growth: weekly volume per event type with the
    * previous week's total and the percent change — the BI trend tile
    * behind every "up 12% WoW" readout.
    *
    * Determinism: weekly totals are exact 1e-4-unit BIGINTs (the q_ewma
    * discipline); the delta is exact integer subtraction; the percent is
    * ONE IEEE division of two correctly-rounded int64→double conversions
    * (then one multiply by 100.0) — no engine-divergent rounding
    * anywhere. First week per type emits NULL growth, pinning LAG's
    * null frame semantics.
    *
    * Scale: two-phase weekly rollup, then a lag window over
    * |types|·|weeks| aggregate rows — same shape as q_ewma. */
  private val popGrowth = QueryDef(
    (s, dir) => {
      import s.implicits._
      val weekly = Tables.events(s, dir)
        .groupBy($"event_type",
          date_trunc("week", $"ts").cast("date").as("week"))
        .agg((round(sum($"value".cast("decimal(28,10)")), 4) * lit(10000))
          .cast("long").as("s4"))
      val w = Window.partitionBy($"event_type").orderBy($"week")
      weekly
        .withColumn("p4", lag($"s4", 1).over(w))
        .select($"event_type", $"week",
          ($"s4".cast("double") / lit(1e4)).as("total"),
          ($"p4".cast("double") / lit(1e4)).as("prev_total"),
          (lit(100.0) * ($"s4" - $"p4").cast("double") / $"p4".cast("double"))
            .as("growth_pct"))
        .orderBy($"event_type", $"week")
    },
    """WITH wk AS (
      |  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
      |         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 4) * 10000 AS BIGINT) AS s4
      |  FROM events GROUP BY 1, 2),
      |lagged AS (
      |  SELECT event_type, week, s4,
      |         LAG(s4) OVER (PARTITION BY event_type ORDER BY week) AS p4
      |  FROM wk)
      |SELECT event_type, week,
      |       CAST(s4 AS DOUBLE) / 1e4 AS total,
      |       CAST(p4 AS DOUBLE) / 1e4 AS prev_total,
      |       100.0 * CAST(s4 - p4 AS DOUBLE) / CAST(p4 AS DOUBLE) AS growth_pct
      |FROM lagged ORDER BY event_type, week""".stripMargin)

  /** Zone-map construction — the file-skipping index a 100 TB lakehouse
    * scan lives on: per date partition, min/max/count of the value
    * column plus the verdict of a candidate predicate (value BETWEEN
    * 100 AND 200) against the zone — `can_skip` = the whole partition
    * is provably outside the range, exactly the pruning decision
    * Parquet row-group stats / Iceberg manifests make. min/max are pure
    * selections (no arithmetic) so raw doubles compare engine-safe.
    * One two-phase aggregate; emitted zones are |dates| rows. */
  private val zoneMap = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(to_date($"ts").as("date"))
        .agg(count(lit(1)).as("n"),
          min($"value").as("min_v"), max($"value").as("max_v"))
        .withColumn("can_skip",
          ($"max_v" < 100.0 || $"min_v" > 200.0).cast("boolean"))
        .orderBy($"date")
    },
    """SELECT CAST(ts AS DATE) AS date, COUNT(*) AS n,
      |       MIN(value) AS min_v, MAX(value) AS max_v,
      |       (MAX(value) < 100.0 OR MIN(value) > 200.0) AS can_skip
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Daily P50/P95 bands of the event value — the time-series quantile
    * report (SLO/latency-band shape). Uses the EXACT integer rank rule
    * pinned for quantile_disc (1-based ⌈p·n⌉: (n+1) div 2, (19n+19)
    * div 20), computed with one per-date sort window + conditional
    * agg — no buffering percentile aggregate (the built-in
    * materializes each group's values in memory; this shape spills
    * naturally and survives arbitrary group width). Value ties take
    * the same VALUE on both engines regardless of tie order. */
  private val dailyPercentile = QueryDef(
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"date").orderBy($"value", $"event_id")
      Tables.events(s, dir)
        .select(to_date($"ts").as("date"), $"value", $"event_id")
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"date")))
        .groupBy($"date")
        .agg(first($"n").as("n"),
          max(when($"rn" === expr("(n + 1) div 2"), $"value")).as("p50"),
          max(when($"rn" === expr("(19 * n + 19) div 20"), $"value")).as("p95"))
        .orderBy($"date")
    },
    """SELECT CAST(ts AS DATE) AS date, COUNT(*) AS n,
      |       quantile_disc(value, 0.5) AS p50,
      |       quantile_disc(value, 0.95) AS p95
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Interval coalescing (merge overlapping activity spans) — the
    * gaps-and-islands operator: each event opens a 300 s activity
    * interval; overlapping/touching intervals per user merge into
    * islands. A new island starts exactly when an event's start exceeds
    * the running max end of all EARLIER intervals (running-max window,
    * 1-row lookback frame), island id = running count of starts — one
    * sort-window pass per user partition, no self-join (the naive
    * interval self-join is quadratic per hot user). Epoch-seconds
    * integers end to end. */
  private val intervalMerge = QueryDef(
    (s, dir) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id")
        .orderBy($"start_s", $"event_id")
      val prevEnd = Window.partitionBy($"user_id")
        .orderBy($"start_s", $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .select($"user_id", $"event_id",
          date_trunc("second", $"ts").cast("long").as("start_s"))
        .withColumn("end_s", $"start_s" + 300)
        .withColumn("new_island",
          when($"start_s" > max($"end_s").over(prevEnd), 1L).otherwise(
            when(max($"end_s").over(prevEnd).isNull, 1L).otherwise(0L)))
        .withColumn("island", sum($"new_island").over(byUser))
        .groupBy($"user_id", $"island")
        .agg(min($"start_s").as("start_s"), max($"end_s").as("end_s"),
          count(lit(1)).as("n_events"))
        .orderBy($"user_id", $"island")
    },
    """WITH iv AS (
      |  SELECT user_id, event_id,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS start_s,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 300 AS end_s
      |  FROM events),
      |fl AS (
      |  SELECT user_id, event_id, start_s, end_s,
      |         CASE WHEN MAX(end_s) OVER w IS NULL
      |                OR start_s > MAX(end_s) OVER w
      |              THEN 1 ELSE 0 END AS new_island
      |  FROM iv
      |  WINDOW w AS (PARTITION BY user_id ORDER BY start_s, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |isl AS (
      |  SELECT user_id, start_s, end_s,
      |         CAST(SUM(new_island) OVER (PARTITION BY user_id
      |           ORDER BY start_s, event_id) AS BIGINT) AS island
      |  FROM fl)
      |SELECT user_id, island, MIN(start_s) AS start_s, MAX(end_s) AS end_s,
      |       COUNT(*) AS n_events
      |FROM isl GROUP BY 1, 2 ORDER BY user_id, island""".stripMargin)

  /** Time-to-conversion funnel metric: per user, seconds from first
    * signup to first subsequent purchase, reported as a histogram over
    * whole days-to-convert. One conditional aggregate per user (min
    * signup instant, min purchase instant AFTER it via a second pass)
    * + a tiny histogram rollup — no event-pair join. */
  private val timeToConvert = QueryDef(
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_type",
          date_trunc("second", $"ts").cast("long").as("ts_s"))
      val signup = ev.filter($"event_type" === "signup")
        .groupBy($"user_id").agg(min($"ts_s").as("s0"))
      val conv = ev.filter($"event_type" === "purchase")
        .join(signup, "user_id")
        .filter($"ts_s" >= $"s0")
        .groupBy($"user_id")
        .agg(min($"ts_s").as("p0"), first($"s0").as("s0"))
      conv
        .groupBy(expr("(p0 - s0) div 86400").as("days_to_convert"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"days_to_convert")
    },
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
      |  FROM events),
      |signup AS (
      |  SELECT user_id, MIN(ts_s) AS s0 FROM ev
      |  WHERE event_type = 'signup' GROUP BY 1),
      |conv AS (
      |  SELECT e.user_id, MIN(e.ts_s) AS p0, MIN(s.s0) AS s0
      |  FROM ev e JOIN signup s ON e.user_id = s.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts_s >= s.s0
      |  GROUP BY 1)
      |SELECT CAST((p0 - s0) // 86400 AS BIGINT) AS days_to_convert,
      |       COUNT(*) AS n_users
      |FROM conv GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Session-level rollup over the merged activity islands (the same
    * gaps-and-islands computation as q_interval_merge): sessions
    * bucketed by duration minute, with exact-bp mean events/session
    * and purchase-session share — the session-quality dashboard. All
    * integer arithmetic; the rollup input is |sessions| rows. */
  private val sessionStats = QueryDef(
    (s, dir) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id")
        .orderBy($"start_s", $"event_id")
      val prevEnd = byUser.rowsBetween(Window.unboundedPreceding, -1)
      val sessions = Tables.events(s, dir)
        .select($"user_id", $"event_id", $"event_type",
          date_trunc("second", $"ts").cast("long").as("start_s"))
        .withColumn("end_s", $"start_s" + 300)
        .withColumn("new_island",
          when(max($"end_s").over(prevEnd).isNull ||
            $"start_s" > max($"end_s").over(prevEnd), 1L).otherwise(0L))
        .withColumn("island", sum($"new_island").over(byUser))
        .groupBy($"user_id", $"island")
        .agg(min($"start_s").as("ss"), max($"end_s").as("es"),
          count(lit(1)).as("n_ev"),
          max(when($"event_type" === "purchase", 1L).otherwise(0L))
            .as("has_purchase"))
      sessions
        .groupBy(expr("(es - ss) div 60").as("duration_min"))
        .agg(count(lit(1)).as("n_sessions"),
          expr("CAST(sum(n_ev) * 10000 div count(1) AS BIGINT)")
            .as("mean_events_bp"),
          expr("CAST(sum(has_purchase) * 10000 div count(1) AS BIGINT)")
            .as("purchase_share_bp"))
        .orderBy($"duration_min")
    },
    """WITH iv AS (
      |  SELECT user_id, event_id, event_type,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS start_s,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 300 AS end_s
      |  FROM events),
      |fl AS (
      |  SELECT user_id, event_id, event_type, start_s, end_s,
      |         CASE WHEN MAX(end_s) OVER w IS NULL
      |                OR start_s > MAX(end_s) OVER w
      |              THEN 1 ELSE 0 END AS new_island
      |  FROM iv
      |  WINDOW w AS (PARTITION BY user_id ORDER BY start_s, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |isl AS (
      |  SELECT user_id, event_type, start_s, end_s,
      |         CAST(SUM(new_island) OVER (PARTITION BY user_id
      |           ORDER BY start_s, event_id) AS BIGINT) AS island
      |  FROM fl),
      |sess AS (
      |  SELECT user_id, island, MIN(start_s) AS ss, MAX(end_s) AS es,
      |         COUNT(*) AS n_ev,
      |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |           AS has_purchase
      |  FROM isl GROUP BY 1, 2)
      |SELECT (es - ss) // 60 AS duration_min, COUNT(*) AS n_sessions,
      |       CAST(SUM(n_ev) * 10000 // COUNT(*) AS BIGINT) AS mean_events_bp,
      |       CAST(SUM(has_purchase) * 10000 // COUNT(*) AS BIGINT)
      |         AS purchase_share_bp
      |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Small-file compaction planner — the lakehouse maintenance op: per
    * date partition, estimated bytes (rows × a documented 100 B/row
    * constant); partitions greedily bin-packed into compaction groups
    * by running size (group = cumulative-bytes-before div 256 KB
    * target). The plan is |partitions| rows; at 100 TB the same query
    * runs over the file manifest instead of a rowcount aggregate. */
  private val compactionPlan = QueryDef(
    (s, dir) => {
      import s.implicits._
      val w = Window.orderBy($"date")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .groupBy(to_date($"ts").as("date"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("est_bytes", $"n_rows" * 100)
        .withColumn("grp", expr(
          "CAST(coalesce(sum(est_bytes) OVER (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) div 262144 AS BIGINT)"))
        .groupBy($"grp")
        .agg(count(lit(1)).as("n_partitions"),
          sum($"n_rows").as("n_rows"),
          sum($"est_bytes").as("total_bytes"),
          min($"date").as("from_date"), max($"date").as("to_date"))
        .orderBy($"grp")
    },
    """WITH p AS (
      |  SELECT CAST(ts AS DATE) AS date, COUNT(*) AS n_rows,
      |         COUNT(*) * 100 AS est_bytes
      |  FROM events GROUP BY 1),
      |g AS (
      |  SELECT date, n_rows, est_bytes,
      |         CAST(COALESCE(SUM(est_bytes) OVER (ORDER BY date
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           // 262144 AS BIGINT) AS grp
      |  FROM p)
      |SELECT grp, COUNT(*) AS n_partitions,
      |       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
      |       CAST(SUM(est_bytes) AS BIGINT) AS total_bytes,
      |       MIN(date) AS from_date, MAX(date) AS to_date
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Rolling 7-day median of the daily mean per event type — another
    * window op Spark lacks (no MEDIAN() OVER): re-expressed as a
    * bounded range self-join over the DAILY rollup (≤7 partners per
    * row, |days| rows total — the join is on the tiny aggregate, never
    * the fact table) + the pinned exact disc-rank pick ⌈n/2⌉. The
    * oracle replays it as DuckDB's native quantile_disc OVER a RANGE
    * frame — engine-idiomatic on both sides, same pinned rank rule,
    * and the RANGE (not ROWS) frame matches the day-interval join
    * exactly even when a type has gap days. */
  private val rollingMedian = QueryDef(
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("date"))
        .agg(r4a(sum($"value".cast("decimal(28,10)")), count(lit(1)))
          .as("m"))
      val right = daily.select($"event_type".as("et2"),
        $"date".as("d2"), $"m".as("m2"))
      daily.join(right,
          $"event_type" === $"et2" &&
          $"d2".between(date_sub($"date", 6), $"date"))
        .groupBy($"event_type", $"date", $"m")
        // n counts the COLLECTED values, not join rows: collect_list
        // drops nulls, so counting rows would index past the array's
        // end whenever a window value is null (quantile_disc ignores
        // NULL on the oracle side — this is the same rule); the guard
        // returns NULL for an all-null window instead of crashing
        .agg(count($"m2").as("n"),
          sort_array(collect_list($"m2")).as("win"))
        .select($"event_type", $"date", $"m", $"n",
          when($"n" > 0,
            element_at($"win", expr("CAST((n + 1) div 2 AS INT)")))
            .as("med7"))
        .orderBy($"event_type", $"date")
    },
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS date,
      |         FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS m
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, date, m,
      |       COUNT(m) OVER w AS n,
      |       quantile_disc(m, 0.5) OVER w AS med7
      |FROM daily
      |WINDOW w AS (PARTITION BY event_type ORDER BY date
      |             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, date""".stripMargin)

  /** Day-of-week seasonality index: per event type, each weekday's
    * volume as basis points of the type's mean daily volume — the
    * seasonal-profile read behind staffing/capacity decisions. Pure
    * integer arithmetic (counts cross-multiplied against totals). */
  private val dowIndex = QueryDef(
    (s, dir) => {
      import s.implicits._
      val byDow = Tables.events(s, dir)
        .groupBy($"event_type", dayofweek($"ts").cast("long").as("dow"))
        .agg(count(lit(1)).as("n"),
          countDistinct(to_date($"ts")).as("n_days"))
      byDow
        .withColumn("tot_n",
          sum($"n").over(Window.partitionBy($"event_type")))
        .withColumn("tot_days",
          sum($"n_days").over(Window.partitionBy($"event_type")))
        // index = (n/n_days) / (tot_n/tot_days) in bp, cross-multiplied
        .withColumn("dow_index_bp", expr(
          "CAST((n * tot_days * 10000) div (n_days * tot_n) AS BIGINT)"))
        .select($"event_type", $"dow", $"n", $"n_days", $"dow_index_bp")
        .orderBy($"event_type", $"dow")
    },
    """WITH d AS (
      |  -- Spark dayofweek is 1=Sunday..7; DuckDB's is 0=Sunday..6 → +1
      |  SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
      |         COUNT(*) AS n, COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, dow, n, n_days,
      |       CAST((n * SUM(n_days) OVER (PARTITION BY event_type) * 10000)
      |            // (n_days * SUM(n) OVER (PARTITION BY event_type))
      |         AS BIGINT) AS dow_index_bp
      |FROM d ORDER BY event_type, dow""".stripMargin)

  val defs: Seq[(String, QueryDef)] = Seq(
    "q_rolling_median" -> rollingMedian,
    "q_dow_index" -> dowIndex,
    "q_zone_map" -> zoneMap,
    "q_daily_percentile" -> dailyPercentile,
    "q_interval_merge" -> intervalMerge,
    "q_time_to_convert" -> timeToConvert,
    "q_session_stats" -> sessionStats,
    "q_compaction_plan" -> compactionPlan,
    "q_pop_growth" -> popGrowth,
    "q_ewma" -> ewma,
    "q_cusum" -> cusum,
    "q_seasonal_decomp" -> seasonalDecomp,
    "q_cdc_merge" -> cdcMerge,
    "q_skew_profile" -> skewProfile,
    "q_daily_avg" -> dailyAvg,
    "q_zorder" -> zorder,
    "q_late_reconcile" -> lateReconcile,
    "q_volume_anomaly" -> volumeAnomaly,
    "q_agg_salted" -> aggSalted,
    "q_watermark_max" -> watermarkMax,
    "q_incremental_delta" -> incrementalDelta,
    "q_incremental_rollup" -> incrementalRollup,
    "q_gap_fill" -> gapFill,
    "q_stream_tumbling" -> streamTumbling,
    "q_stream_sliding" -> streamSliding,
    "q_session_window" -> sessionWindow)
}
