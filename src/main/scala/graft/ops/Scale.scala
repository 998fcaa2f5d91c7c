package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale utilities (SURVEY.md §7.5 risk register; the 100 TB design
  * mandate): salted skew handling, Z-order keys, hub-capped wedges,
  * star connected components, blocked prefix sums and the range-sort
  * rank-pick. The declared queries build on them; ScaleSpec checks each
  * against its plain single-task formulation.
  */
object Scale {

  /** Salted two-phase aggregation: pre-aggregate on (key, salt) so a
    * hot key's rows split across `salts` reducers, then combine the
    * partials. Identical result to a direct groupBy-agg for any
    * sum/count-decomposable aggregate; use when one key dominates the
    * distribution badly enough that AQE skew handling isn't available
    * (it only splits JOIN partitions, not aggregation keys).
    *
    * partial: map each value column to its (salted) partial aggregate.
    * merge:   combine partials per key.
    */
  def saltedAgg(
      df: DataFrame,
      key: Column,
      salts: Int,
      partial: Seq[Column],
      merge: Seq[Column]): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    salted
      .groupBy(key.as("_k"), col("_salt"))
      .agg(partial.head, partial.tail: _*)
      .groupBy(col("_k"))
      .agg(merge.head, merge.tail: _*)
  }

  /** Morton (Z-order) interleave of the low `bits` bits of two
    * non-negative dimension columns — the multi-dimensional clustering
    * key for data skipping. Range-clustering a table by ONE key (see
    * [[graft.etl.Pipeline.clusteredWrite]]) makes that key's file-level
    * min/max tight but leaves every OTHER dimension full-range per
    * file; sorting by the interleaved key makes file min/max tight in
    * BOTH dimensions at once (each 2²ᵏ-aligned z-range is an exact
    * 2ᵏ×2ᵏ tile — pinned in ScaleSpec), so predicates on either
    * column prune files. Pure bit arithmetic (32 OR-terms for 16-bit
    * dims), codegen-friendly, replayable in any engine — the oracle
    * SQL is generated from the same term list by [[zOrderSql]]. */
  def zOrderKey(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))

  /** The identical interleave as engine-neutral SQL over `x`/`y`
    * sub-expressions — keeps the oracle bit-for-bit the same formula. */
  def zOrderSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")

  /** Wedge enumeration with a witness hub cap — the scale armor for
    * common-neighbor / Adamic-Adar link prediction. Input: a SYMMETRIC
    * edge set (uCol, vCol). Output: one row per wedge a–w–b with a < b,
    * enumerated ONLY at witnesses w with deg(w) ≤ cap, carrying the
    * witness degree.
    *
    * Why a cap and not orientation: unlike triangle counting (where
    * degree-ordered orientation bounds fan-out at O(√|E|) because each
    * triangle needs counting once), every wedge here IS an output
    * contribution — CN counts all of them — so no orientation trick can
    * shrink the Σ deg(w)² wedge mass. The standard large-graph fix is
    * dropping hub witnesses: a witness of degree d costs d(d-1)/2 wedge
    * rows yet contributes only ~1/ln d of Adamic-Adar evidence per pair
    * — maximum cost, minimum signal. With the cap, per-witness fan-out
    * is ≤ cap(cap-1)/2 and a degree-10⁶ celebrity node contributes ZERO
    * wedge rows instead of ~10¹². The degree filter lands BEFORE the
    * self-join, so the pruned fan-out never materializes. */
  def cappedWedges(sym: DataFrame, uCol: String, vCol: String,
      cap: Long): DataFrame = {
    val deg = sym.groupBy(col(uCol).as("w"))
      .agg(count(lit(1)).as("degree"))
      .filter(col("degree") <= cap)
    sym.select(col(uCol).as("a"), col(vCol).as("w"))
      .join(deg, "w")
      .join(sym.select(col(uCol).as("w"), col(vCol).as("b")), "w")
      .filter(col("a") < col("b"))
      .select(col("a"), col("w"), col("b"), col("degree"))
  }

  /** Skew-resistant connected components: the alternating large-star /
    * small-star algorithm (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14 — public). Each round rewires every
    * edge toward its neighborhood minimum:
    *   large-star: for node u with m = min(Γ(u) ∪ {u}), each neighbor
    *               x > u re-links as (x, m);
    *   small-star: each neighbor x < u re-links as (x, m), plus (u, m).
    * The edge set converges in O(log n) rounds to stars centered at each
    * component's minimum id. Versus min-label propagation (the
    * q_dedup_canonical loop) the hot structures stay skew-safe: the
    * neighborhood minimum is a map-side-combinable `min` aggregate (a
    * 10^9-degree hub never materializes on one reducer), and a hub's
    * spokes re-link directly to the minimum in one round instead of
    * re-shuffling the hub key once per propagation round for
    * diameter-many rounds.
    *
    * `pairs` = undirected edges (aCol, bCol), any orderable integer ids;
    * self-loops and duplicates tolerated. Returns (node, lbl) — every
    * node that appears in an edge, labeled with its component's min id.
    * Isolated nodes never appear (same contract as the propagation
    * loop: they are their own canonical by definition). */
  def starCC(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 64): DataFrame = {
    val init = pairs
      .select(least(col(aCol), col(bCol)).cast("long").as("lo"),
        greatest(col(aCol), col(bCol)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    def sym(e: DataFrame): DataFrame =
      e.select(col("lo").as("u"), col("hi").as("v"))
        .unionByName(e.select(col("hi").as("u"), col("lo").as("v")))
    // m(u) = min(Γ(u) ∪ {u}) — partial-aggregatable, no reducer ever
    // holds a whole neighborhood
    def nbhdMin(s: DataFrame): DataFrame =
      s.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
    def canon(e: DataFrame): DataFrame =
      e.select(least(col("x"), col("m")).as("lo"),
        greatest(col("x"), col("m")).as("hi"))
        .filter(col("lo") =!= col("hi")).distinct()
    // each round references the prior edge set ~10× (two sym()s, the
    // nbhdMin joins, the delta union) — an eager localCheckpoint
    // truncates the LOGICAL lineage per round, or analysis alone goes
    // exponential in rounds (the cache only truncates execution). At
    // cluster scale swap for reliable checkpointing to shared storage.
    var cur = init.localCheckpoint(true)
    var done = false
    var iter = 0
    while (!done && iter < maxIter) {
      val sL = sym(cur)
      val large = canon(sL.filter(col("v") > col("u"))
        .join(nbhdMin(sL), "u")
        .select(col("v").as("x"), col("m")))
      val sS = sym(large)
      val mS = nbhdMin(sS)
      val small = canon(
        sS.filter(col("v") < col("u")).join(mS, "u")
          .select(col("v").as("x"), col("m"))
          .unionByName(mS.select(col("u").as("x"), col("m"))))
      val next = small.localCheckpoint(true)
      // converged ⟺ symmetric difference empty: an edge in exactly one
      // of {cur, next} surfaces as a group of count 1 (both are distinct
      // sets) — one action per round
      val delta = next.unionByName(cur)
        .groupBy(col("lo"), col("hi")).count()
        .filter(col("count") === 1).count()
      cur = next
      done = delta == 0
      iter += 1
    }
    require(done, s"starCC did not converge in $iter rounds")
    val labels = cur.select(col("hi").as("node"), col("lo").as("lbl"))
      .unionByName(cur.select(col("lo").as("node"), col("lo").as("lbl")))
      .distinct()
    labels
  }

  /** Distributed running (prefix) sum — the two-level scan that replaces
    * `Window.partitionBy(group).orderBy(order)`: that window funnels every
    * row of a group through ONE task's sort (with ~10 language groups at
    * the 100 TB target, a single-core scan of each language's whole
    * share). Here the cumsum is computed within (group, block) slices —
    * block = ⌊order/blockSpan⌋, so parallelism is |blocks|, not |groups| —
    * then per-block totals (|blocks| tiny rows, not row data) are
    * cumsum'd per group and the exclusive block offset is joined back on
    * (group, block), a key the in-block window already partitioned by, so
    * the join adds no exchange on the data side. Result is bit-identical
    * to the single window: within a block the order is `order`, blocks
    * are `order`-monotone, and long addition is associative.
    *
    * Returns df + `cumCol` = running sum of `valueCol` INCLUSIVE of the
    * current row, in (group, order) order. `order` and `value` must be
    * numeric and non-null; ties in `order` within a block are resolved by
    * the window's stable ordering, and the row-level cumsum at a tie is
    * order-dependent — pass a unique `order` key (same caveat as any
    * running-total window). */
  def blockedPrefixSum(
      df: DataFrame,
      groupCol: String,
      orderCol: String,
      valueCol: String,
      cumCol: String,
      blockSpan: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(blockSpan > 0, s"blockSpan must be positive; got $blockSpan")
    val withBlk = df.withColumn("_blk",
      floor(col(orderCol) / blockSpan).cast("long"))
    val wIn = Window.partitionBy(col(groupCol), col("_blk"))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBlock = withBlk.withColumn("_incum", sum(col(valueCol)).over(wIn))
    val wBlocks = Window.partitionBy(col(groupCol)).orderBy(col("_blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withBlk.groupBy(col(groupCol), col("_blk"))
      .agg(sum(col(valueCol)).as("_btot"))
      .withColumn("_boff", coalesce(sum(col("_btot")).over(wBlocks), lit(0L)))
      .select(col(groupCol), col("_blk"), col("_boff"))
    inBlock.join(offsets, Seq(groupCol, "_blk"))
      .withColumn(cumCol, col("_incum") + col("_boff"))
      .drop("_incum", "_boff", "_blk")
  }

  /** Distributed exact rank-pick: for each group, return ONLY the rows
    * at the requested (1-based) sorted ranks of `valCol` — the
    * selection step of exact percentiles/medians WITHOUT a per-group
    * reducer. A window `row_number` over a 3-value group key sorts each
    * group on ONE task (memory-safe via spill, but 3 tasks on a 1000-
    * executor cluster); here the sort is a global RANGE sort over
    * (group, value) — every core sorts a slice — and global ranks come
    * from per-partition counts plus each row's index in its partition,
    * minus each group's start offset (see [[rankPickSorted]]).
    * Rank-of-equal-values is arbitrary but the VALUE at rank k is
    * unique, so results don't depend on partition boundaries or tie
    * placement.
    *
    * The per-group totals are collected to the driver to compute start
    * offsets and the requested rank sets — |groups| scalar rows, the
    * same class of driver-side metadata read as a range partitioner's
    * sample or the watermark scalar (SURVEY.md §7.5); row data never
    * leaves the cluster. More than `maxGroups` groups fail fast.
    *
    * `ranksFor` maps each group and its row count n to the ranks wanted
    * (e.g. percentile interpolation needs ⌊p·(n−1)⌋+1 and ⌈p·(n−1)⌉+1;
    * pass `(_, n) => …` when the ranks ignore the group). Because the
    * ranks are GROUP-AWARE, several logical rank-picks can share ONE
    * global sort: melt the measures into a single (composite group,
    * value) frame and give each composite its own rank set (q_percentile
    * fuses its two measures this way, halving the sort job count).
    *
    * `precounted` is a cross-check, not an input: per-group totals the
    * caller already holds, in SPARK SORT ORDER of the group key (e.g.
    * the counts an earlier call returned). They must equal the counts
    * the pick derives from its own sort, or the call fails. The order is
    * compared too, so the list must come from the engine, never a
    * driver-side re-sort — Scala's UTF-16 String ordering and Spark's
    * UTF8 binary ordering disagree on supplementary-plane characters.
    *
    * Returns the picked (group, rn, v) rows — one per requested rank —
    * the per-group clean-row counts (in the global sort's group order)
    * and, optionally, an `aux` frame the caller computes over the
    * persisted sorted rows while they are still cached (eagerly
    * localCheckpointed, same lifetime rules as the picked frame).
    *
    * The counts cost no input pass of their own: they come from the
    * same (partition, group) census that yields the rank offsets, so a
    * caller that needs n per group (interpolation weights, clamp ranks)
    * reads it here instead of aggregating the input again. `aux` exists
    * for the same reason: q_quantile_approx's sketch runs as one
    * cached-read aggregate over the sorted rows instead of a second scan
    * of the raw input.
    *
    * Null (group, value) rows drop first — SQL percentile semantics skip
    * null measures — so counts, ranks and `precounted` all describe
    * exactly the clean rows. */
  def rankPickCounted(
      spark: SparkSession,
      df: DataFrame,
      groupCol: String,
      valCol: String,
      ranksFor: (String, Long) => Seq[Long],
      precounted: Option[Seq[(String, Long)]] = None,
      maxGroups: Int = 100000,
      aux: Option[DataFrame => DataFrame] = None)
      : (DataFrame, Seq[(String, Long)], Option[DataFrame]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val clean = df.filter(col(groupCol).isNotNull && col(valCol).isNotNull)
      .select(col(groupCol), col(valCol).cast("double"))
    val (picked, counts, auxOut) = rankPickSorted(spark, clean, groupCol,
      Seq(col(valCol).asc), ranksFor, precounted, maxGroups, aux)
    val schema = StructType(Seq(
      StructField(groupCol, StringType, nullable = false),
      StructField("rn", LongType, nullable = false),
      StructField(valCol, DoubleType, nullable = false)))
    (picked.getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)),
      counts, auxOut)
  }

  /** Rows at requested 1-based per-group GLOBAL ranks under a
    * COMPOSITE ordering — the replacement for global-ORDER-BY window
    * reads (NTILE boundaries, global row_number probes): those plan as
    * `Exchange SinglePartition` + Sort, funneling |rows| through ONE
    * task per ordering. Here the sort is a parallel RANGE sort over
    * (group, sortCols…) — desc/ties supported, pass the exact ORDER BY
    * columns. Several logical orderings share ONE sort via the
    * [[rankPickCounted]] melt idiom: tag each ordering's rows with a group
    * and express the ordering so the tagged sort is ascending (q_rfm
    * melts its three quintile-boundary orderings into signed-long
    * metrics this way — one sort + one census + one pick instead of
    * three of each).
    *
    * `ranksFor` receives each group's row count and returns the wanted
    * ranks (values outside [1, n] match nothing). Returns the picked
    * rows (all columns + `rn`, 1-based within the group); callers are
    * expected to pick O(1) ranks per group (quantile boundaries), so the
    * picked frame is collected-scale. */
  def globalRankPickBy(
      spark: SparkSession,
      df: DataFrame,
      groupCol: String,
      sortCols: Seq[Column],
      ranksFor: (String, Long) => Seq[Long],
      maxGroups: Int = 100000): DataFrame =
    rankPickSorted(spark, df, groupCol, sortCols, ranksFor, None, maxGroups,
      None)._1.getOrElse(df.filter(lit(false)).withColumn("rn", lit(0L)))

  /** The one range-sort rank-pick under every public variant. Sorts `df`
    * by (group, sortCols…) and returns the rows at the wanted per-group
    * ranks (group, rn, the other columns of `df`) — None when `df` has
    * no rows — plus the per-group counts in sort order and the `aux`
    * output.
    *
    * Global ranks without rdd.zipWithIndex, which would run the sort
    * twice and leave whole-stage codegen: the sorted frame is persisted
    * once; a range sort orders partitions by index, so global rank =
    * (rows in earlier partitions) + within-partition index + 1, with
    * the within-partition index decoded from
    * monotonically_increasing_id (pid·2³³ + row index — its documented
    * layout). ONE driver read materializes the persist and yields
    * partition counts, group counts and group order together; the sort
    * keys lead with the group, so each group occupies one contiguous
    * partition range — ≤ |groups| + |partitions| (pid, group) pairs.
    * Everything else stays in whole-stage codegen: the group offsets are
    * a broadcast join, the rank filter a broadcast semi join on the
    * (group, rn) target set, and the picked rows are localCheckpointed
    * eagerly so the sort cache can be released before the caller
    * composes on top.
    *
    * Cluster caveats: (a) localCheckpoint truncates lineage to
    * EXECUTOR-LOCAL blocks — on a real cluster an executor loss makes
    * the picked frame unrecoverable (job failure, not corruption); swap
    * for reliable checkpoint()/a table write when running non-local.
    * (b) the _mid decode assumes <2^33 rows per sort partition — range-
    * sort partitions are sized far below that by the shuffle partition
    * count, but a deliberate single-partition sort of >8.5 billion rows
    * would wrap. */
  private def rankPickSorted(
      spark: SparkSession,
      df: DataFrame,
      groupCol: String,
      sortCols: Seq[Column],
      ranksFor: (String, Long) => Seq[Long],
      precounted: Option[Seq[(String, Long)]],
      maxGroups: Int,
      aux: Option[DataFrame => DataFrame])
      : (Option[DataFrame], Seq[(String, Long)], Option[DataFrame]) = {
    import org.apache.spark.sql.types.StringType
    require(df.schema(groupCol).dataType == StringType,
      s"rankPick groups by a string key; got ${df.schema(groupCol).dataType.sql}" +
        " — cast the group column first")
    val sorted = df
      .sort((col(groupCol).asc +: sortCols): _*)
      .select(col("*"), spark_partition_id().as("_pid"),
        monotonically_increasing_id().as("_mid"))
      .persist()
    try {
      val pg = sorted
        .groupBy(col("_pid"), col(groupCol))
        .agg(count(lit(1)).as("_c"), min(col("_mid")).as("_mm"))
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val nGroups = pg.iterator.map(_._2).toSet.size
      require(nGroups <= maxGroups,
        s"rankPick holds one (group, count) pair per group on the driver; " +
          s"'$groupCol' has $nGroups groups > maxGroups=$maxGroups — use a " +
          "distributed window rank per group instead, or raise maxGroups " +
          "deliberately")
      val pc = pg.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val pidOff = (0 to pc.keys.maxOption.getOrElse(-1)).scanLeft(0L) {
        (acc, p) => acc + pc.getOrElse(p, 0L)
      }.dropRight(1).zipWithIndex.map { case (off, p) => p -> off }.toMap
      // each group's first GLOBAL index orders the groups exactly as the
      // engine sorted them (never a driver-side string re-sort)
      val firstIdx = pg.groupBy(_._2).view.mapValues(_.iterator.map {
        case (p, _, _, mm) => pidOff(p) + (mm - (p.toLong << 33))
      }.min).toMap
      val counts: Seq[(String, Long)] = pg.groupBy(_._2).view
        .mapValues(_.map(_._3).sum).toSeq
        .sortBy { case (g, _) => firstIdx(g) }
      precounted.foreach { pre =>
        require(pre == counts,
          s"rankPick cross-check failed: caller-supplied counts " +
            s"(${pre.take(5)}…) disagree with the sorted frame " +
            s"(${counts.take(5)}…) — the supplied counts must cover " +
            "exactly the null-cleaned (group, value) rows in engine " +
            "sort order")
      }
      val picked = if (counts.isEmpty) None else Some {
        // each group's rows start at the cumulative count of earlier groups
        val offsets = counts.scanLeft(("", 0L)) { case ((_, acc), (g, n)) =>
          (g, acc + n)
        }.sliding(2).collect { case Seq((_, off), (g, _)) => g -> off }.toSeq
        val targetRows: Seq[(String, Long)] = counts.flatMap { case (g, n) =>
          ranksFor(g, n).toSet[Long].map(g -> _)
        }
        import spark.implicits._
        val offDf = offsets.toDF(groupCol, "_goff")
        val tgtDf = targetRows.toDF(groupCol, "rn")
        val globalIdx = element_at(typedLit(pidOff), col("_pid")) +
          (col("_mid") - shiftleft(col("_pid").cast("long"), 33))
        sorted
          .join(broadcast(offDf), Seq(groupCol))
          .withColumn("rn", globalIdx - col("_goff") + 1L)
          .join(broadcast(tgtDf), Seq(groupCol, "rn"), "left_semi")
          .drop("_pid", "_mid", "_goff")
          .localCheckpoint(eager = true)
      }
      val auxOut = aux.map(f =>
        f(sorted.drop("_pid", "_mid")).localCheckpoint(eager = true))
      (picked, counts, auxOut)
    } finally sorted.unpersist(): Unit
  }
}
