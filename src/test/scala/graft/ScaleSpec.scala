package graft

import org.apache.spark.sql.functions._
import graft.ops.Scale

/** The 100 TB scale patterns against their plain formulations: salted
  * aggregation, the range-sort rank-picks, star connected components,
  * hub-capped wedges, blocked prefix sums and Z-order keys. */
class ScaleSpec extends SparkSpec {

  test("saltedAgg == direct groupBy for sum/count, any salt count") {
    import spark.implicits._
    val l = spark.read.parquet(s"$sf/lineitem.parquet")
    val direct = l.groupBy($"l_returnflag".as("_k"))
      .agg(sum($"l_quantity").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val salted = Scale.saltedAgg(l, $"l_returnflag", salts = 8,
      partial = Seq(sum($"l_quantity").as("ps"), count(lit(1)).as("pn")),
      merge = Seq(sum($"ps").as("s"), sum($"pn").as("n")))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted.keySet === direct.keySet)
    direct.foreach { case (k, (s, n)) =>
      assert(salted(k)._2 === n)
      assert(math.abs(salted(k)._1 - s) < 1e-6) // double sum order differs
    }
  }

  test("rankPick returns exactly the requested ranks' values per group") {
    import spark.implicits._
    // ties included: rank-of-equals is arbitrary but the VALUE at any
    // rank is unique
    val df = Seq(
      ("a", 5.0), ("a", 1.0), ("a", 3.0), ("a", 3.0), ("a", 9.0),
      ("b", 2.0), ("b", 2.0), ("b", 8.0)
    ).toDF("g", "v").repartition(4) // scatter across partitions
    val picked = Scale.rankPickCounted(spark, df, "g", "v",
      (_, n) => Seq(1L, (n + 1) / 2, n))._1 // min, lower median, max
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(picked === Map(
      ("a", 1L) -> 1.0, ("a", 3L) -> 3.0, ("a", 5L) -> 9.0,
      ("b", 1L) -> 2.0, ("b", 2L) -> 2.0, ("b", 3L) -> 8.0))
    // and it agrees with the window row_number formulation on real data
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_returnflag".as("g"), $"l_quantity".cast("double").as("v"))
    val viaPick = Scale.rankPickCounted(spark, li, "g", "v",
      (_, n) => Seq(1L, n / 2, n))._1
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"g").orderBy($"v")
    val viaWindow = li.withColumn("rn", row_number().over(w).cast("long"))
      .collect().groupBy(_.getString(0))
    viaPick.foreach { case ((g, rn), v) =>
      val expect = viaWindow(g).find(_.getLong(2) == rn).get.getDouble(1)
      assert(v === expect, s"group $g rank $rn")
    }
  }

  test("globalRankPickBy == global row_number per ordering, composite desc keys") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_quantity".cast("long").as("q"),
        $"l_orderkey".as("k"), $"l_linenumber".cast("long").as("ln"))
      .repartition(8) // scatter so the range sort has real work
    val n = li.count()
    val ranks = Seq(1L, n / 3, n / 2, n) // includes both extremes
    // the melt idiom under test: TWO orderings (q asc, k, ln) and
    // (q desc ≡ -q asc, k, ln) share one sort via signed metrics; q
    // carries heavy ties so the (k, ln) tie-break order matters
    val melted = li.select(lit("a").as("_g"), $"q".as("_v"), $"k", $"ln")
      .unionByName(li.select(lit("d").as("_g"), (-$"q").as("_v"), $"k", $"ln"))
    val picked = Scale.globalRankPickBy(spark, melted, "_g",
      Seq($"_v".asc, $"k".asc, $"ln".asc), (g, total) => {
        assert(total === n, s"group $g must see the per-group row count")
        ranks
      }).select($"_g", $"rn", $"_v", $"k", $"ln").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(picked.keySet ===
      (for (g <- Seq("a", "d"); r <- ranks) yield (g, r)).toSet)
    def viaWindow(ord: Seq[org.apache.spark.sql.Column], sign: Long) = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(ord: _*)
      li.withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn".isin(ranks: _*)).collect()
        .map(r => r.getLong(3) ->
          (sign * r.getLong(0), r.getLong(1), r.getLong(2))).toMap
    }
    val asc = viaWindow(Seq($"q".asc, $"k".asc, $"ln".asc), 1L)
    val desc = viaWindow(Seq($"q".desc, $"k".asc, $"ln".asc), -1L)
    ranks.foreach { r =>
      assert(picked(("a", r)) === asc(r), s"asc rank $r")
      assert(picked(("d", r)) === desc(r), s"desc rank $r")
    }
    // no single-partition exchange in the pick's sort lineage: the
    // whole point is replacing Exchange SinglePartition + Sort
    val planStr = melted.sort($"_g".asc, $"_v".asc, $"k".asc, $"ln".asc)
      .queryExecution.executedPlan.toString
    assert(!planStr.contains("SinglePartition"), planStr)
    // empty input returns an empty frame that still carries `rn`
    val empty = Scale.globalRankPickBy(spark, melted.filter(lit(false)),
      "_g", Seq($"_v".asc), (_, _) => Seq(1L))
    assert(empty.columns.contains("rn") && empty.count() === 0L)
    // group-cardinality cap fails fast (driver-side census contract)
    val wide = (1 to 50).map(i => (s"g$i", i.toLong)).toDF("_g", "_v")
    val e = intercept[IllegalArgumentException] {
      Scale.globalRankPickBy(spark, wide, "_g", Seq($"_v".asc),
        (_, _) => Seq(1L), maxGroups = 10)
    }
    assert(e.getMessage.contains("maxGroups"))
  }

  test("rankPick fails fast above its driver-side group-cardinality cap") {
    import spark.implicits._
    // the per-group offset table is a driver-side collect — the
    // documented watermark-class scalar read. The cap makes that
    // contract mechanical: a high-cardinality group key must throw,
    // not silently funnel the group census through the driver.
    val wide = (1 to 50).map(i => (s"g$i", i.toDouble)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      Scale.rankPickCounted(spark, wide, "g", "v", (_, _) => Seq(1L),
        maxGroups = 10)
    }
    assert(e.getMessage.contains("maxGroups") || e.getMessage.contains("groups"))
    // precounted path enforces the same cap
    val pre = (1 to 50).map(i => (s"g$i", 1L))
    val e2 = intercept[IllegalArgumentException] {
      Scale.rankPickCounted(spark, wide, "g", "v", (_, _) => Seq(1L),
        precounted = Some(pre), maxGroups = 10)
    }
    assert(e2.getMessage.contains("maxGroups"))
    // and below the cap the same call succeeds
    assert(Scale.rankPickCounted(spark, wide, "g", "v", (_, _) => Seq(1L),
      maxGroups = 64)._1.count() === 50L)
  }

  test("rankPickBy refuses precounted counts that disagree with the sorted frame") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("b", Some(3.0)),
      ("b", None)).toDF("g", "v").repartition(3)
    // the null measure drops before counting: b has ONE clean row
    val clean = Seq("a" -> 2L, "b" -> 1L)
    assert(Scale.rankPickCounted(spark, df, "g", "v", (_, n) => Seq(n),
      precounted = Some(clean))._1.count() === 2L)
    // a miscount, a missing group and a driver-side re-order all fail
    Seq(Seq("a" -> 2L, "b" -> 2L), Seq("a" -> 2L), clean.reverse).foreach { pre =>
      val e = intercept[IllegalArgumentException] {
        Scale.rankPickCounted(spark, df, "g", "v", (_, n) => Seq(n),
          precounted = Some(pre))
      }
      assert(e.getMessage.contains("cross-check failed"), pre.toString)
    }
  }

  test("starCC labels == union-find ground truth: hub, chain, random, cliques") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // hub cluster (node 1000 center, 300 spokes — the skew shape),
    // a 64-node path (forces O(log) star rounds), a few dense cliques,
    // random sparse edges, duplicate + reversed + self-loop noise
    val hub = (1 to 300).map(i => (1000L, 1000L + i))
    val path = (0 until 63).map(i => (2000L + i, 2000L + i + 1))
    val cliques = (0 until 3).flatMap { c =>
      val ids = (0 to 5).map(i => 3000L + c * 10 + i)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }
    val sparse = (1 to 120).map { _ =>
      val a = rnd.nextInt(200).toLong; val b = rnd.nextInt(200).toLong; (a, b)
    }
    val noise = hub.take(5).map(_.swap) ++ Seq((42L, 42L)) ++ path.take(3)
    val edges = hub ++ path ++ cliques ++ sparse ++ noise
    // driver-side union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .filter(n => edges.exists(e => (e._1 == n || e._2 == n) && e._1 != e._2))
      .map(n => n -> find(n)).toMap
    val actual = Scale.starCC(edges.toDF("da", "db").repartition(8), "da", "db")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(actual === expected)
  }

  test("cappedWedges: hub-and-spoke skew — a 1000-degree hub witness " +
    "contributes ZERO wedge rows; non-hub wedges are exact") {
    import spark.implicits._
    // One celebrity node (id 0, degree 1000) plus a 10-clique of normal
    // nodes (ids 10000-10009, degree 9 each, all ≤ cap). Uncapped, the
    // hub alone would fan out 1000*999/2 = 499,500 wedge rows; with the
    // cap, the plan's self-join never sees it.
    val hubEdges = (1L to 1000L).map(i => (0L, i))
    val cliqueIds = (0 until 10).map(i => 10000L + i)
    val cliqueEdges = for (a <- cliqueIds; b <- cliqueIds if a < b) yield (a, b)
    val pairs = (hubEdges ++ cliqueEdges).toDF("da", "db")
    val sym = pairs.select($"da".as("u"), $"db".as("v"))
      .unionByName(pairs.select($"db".as("u"), $"da".as("v")))
    val wedges = Scale.cappedWedges(sym, "u", "v", cap = 64L).cache()
    try {
      // no wedge is witnessed at the hub
      assert(wedges.filter($"w" === 0L).count() === 0)
      // spokes (degree 1) witness nothing; each clique node (degree 9)
      // witnesses C(9,2)=36 wedges → 360 total. Each spoke-hub wedge is
      // gone: total == clique wedges only.
      assert(wedges.count() === 360L)
      // every clique pair {a,b} has exactly 8 common non-hub witnesses
      val cn = wedges.groupBy($"a", $"b").count().collect()
      assert(cn.length === 45 && cn.forall(_.getLong(2) === 8L))
      // degree column carries the true witness degree
      assert(wedges.select($"degree").distinct().as[Long].collect().toSet === Set(9L))
    } finally wedges.unpersist()
  }

  test("starCC and blockedPrefixSum tolerate empty and degenerate input") {
    import spark.implicits._
    // empty edge set → empty labels (no hang, no exception)
    val empty = Scale.starCC(Seq.empty[(Long, Long)].toDF("da", "db"), "da", "db")
    assert(empty.count() === 0)
    // self-loops only → still empty (no real edges)
    val selfOnly = Scale.starCC(Seq((5L, 5L), (9L, 9L)).toDF("da", "db"), "da", "db")
    assert(selfOnly.count() === 0)
    // single edge → two nodes labeled with the min
    val one = Scale.starCC(Seq((4L, 2L)).toDF("da", "db"), "da", "db")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one === Map(2L -> 2L, 4L -> 2L))
    // prefix sum over an empty frame → empty with the cum column present
    val emptyPs = Scale.blockedPrefixSum(
      Seq.empty[(String, Long, Long)].toDF("g", "ord", "v"), "g", "ord", "v", "cum", 16L)
    assert(emptyPs.columns.contains("cum") && emptyPs.count() === 0)
  }

  test("blockedPrefixSum == single-window running sum, hub group included") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // skewed synthetic stream: group "hub" holds ~80% of all rows, ids
    // are sparse/non-contiguous, values vary — the shape the two-level
    // scan exists for
    val rows = (0 until 400).map(i => ("hub", i.toLong * 3 + 1, (i % 17 + 1).toLong)) ++
      (0 until 60).map(i => ("b", i.toLong * 7, (i % 5 + 1).toLong)) ++
      (0 until 40).map(i => ("c", i.toLong, 2L))
    val df = rows.toDF("g", "ord", "v").repartition(8)
    val w = Window.partitionBy($"g").orderBy($"ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df.withColumn("cum", sum($"v").over(w))
      .select($"g", $"ord", $"cum")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // span 64 (many blocks), span 1 (block per id), span 1e9 (one block:
    // degenerates to the plain window) must all agree
    for (span <- Seq(64L, 1L, 1000000000L)) {
      val actual = Scale.blockedPrefixSum(df, "g", "ord", "v", "cum", span)
        .select($"g", $"ord", $"cum")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(actual === expected, s"span=$span")
    }
  }

  test("zOrderKey: every 2^(2k)-aligned z-range is an exact 2^k × 2^k tile") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the data-skipping property q_zorder's stats rely on: within any
    // aligned z-range (tile = z >> 2k) BOTH dimensions' high bits are
    // constant — so per-tile (and hence per-file) min/max spans ≤ 2^k−1
    // in each dimension. k = 5 (32×32 tiles) over the real fixture.
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_partkey".as("x"), $"l_suppkey".as("y"))
    val bad = li
      .withColumn("z", Scale.zOrderKey($"x", $"y", 16))
      .groupBy(shiftright($"z", 10).as("tile"))
      .agg(countDistinct(shiftright($"x", 5)).as("dx"),
        countDistinct(shiftright($"y", 5)).as("dy"))
      .filter($"dx" =!= 1 || $"dy" =!= 1)
      .count()
    assert(bad === 0L)
    // and the key round-trips: de-interleaving recovers both inputs
    val probe = Seq((0L, 0L), (1L, 0L), (0L, 1L), (21L, 47L), (65535L, 65535L))
      .toDF("x", "y")
      .withColumn("z", Scale.zOrderKey($"x", $"y", 16))
      .as[(Long, Long, Long)].collect()
    probe.foreach { case (x, y, z) =>
      val (rx, ry) = (0 until 16).foldLeft((0L, 0L)) { case ((ax, ay), i) =>
        (ax | (((z >> (2 * i)) & 1L) << i), ay | (((z >> (2 * i + 1)) & 1L) << i))
      }
      assert((rx, ry) === ((x, y)), s"z=$z")
    }
  }

  test("AQE skew-join splits the hot partition of a shuffled join " +
    "(the runtime half of the skew armor; q_join_salted is the portable half)") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one pathological key carries ~97% of the left side
      val left = spark.range(60000).select(
        when($"id" < 58000, lit(7L)).otherwise($"id").as("k"),
        $"id".as("payload"))
      val right = spark.range(2000).select($"id".as("k"), ($"id" * 2).as("w"))
      val joined = left.join(right, "k")
      // execute THIS dataframe (count() would plan a separate query and
      // leave joined's own adaptive plan unfinalized)
      val rows = joined.collect()
      // 58000 hot-key matches; the 2000 unique left keys (58000+) miss
      assert(rows.length === 58000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(3000))
      assert(p.contains("skew=true"),
        "AQE did not mark the join as skew-handled:\n" + p.take(3000))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
