package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-6 operators — properties that hold
  * by DEFINITION of each operator, checked independently of the DuckDB
  * oracle path (which pins engine agreement, not meaning):
  *  - skyline: output is exactly the non-dominated set;
  *  - markov: outgoing probabilities are a distribution per state;
  *  - ewma: a convex combination stays inside the trailing window's range;
  *  - triangles: the degree-ordered count equals a brute-force count.
  */
class OperatorInvariantsSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.all(name).fn(spark, sf)

  test("q_skyline emits exactly the non-dominated (price, max-date) points") {
    import spark.implicits._
    val pts = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy($"o_totalprice".as("price"))
      .agg(max(to_date($"o_orderdate")).as("d"))
      .as[(Double, java.sql.Date)].collect()
    val expected = pts.filter { case (p, d) =>
      !pts.exists { case (p2, d2) =>
        (p2 >= p && d2.compareTo(d) >= 0) && (p2 > p || d2.after(d))
      }
    }.toSet
    val got = run("q_skyline").as[(Double, java.sql.Date)].collect().toSet
    assert(got === expected)
  }

  test("q_markov_transition rows are a probability distribution per prev") {
    import spark.implicits._
    val rows = run("q_markov_transition")
      .select($"prev", $"cnt", $"total", $"prob")
      .as[(String, Long, Long, Double)].collect()
    rows.groupBy(_._1).foreach { case (prev, rs) =>
      // per-state counts sum to the state's total...
      assert(rs.map(_._2).sum === rs.head._3, prev)
      // ...and probabilities to 1 within float tolerance
      assert(math.abs(rs.map(_._4).sum - 1.0) < 1e-9, prev)
    }
  }

  test("q_ewma lies within [min, max] of the trailing 10 daily values") {
    import spark.implicits._
    val daily = run("q_ewma")
      .select($"event_type", $"date", $"daily", $"ewma")
      .as[(String, java.sql.Date, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2.getTime))
    // q_ewma drops the first 9 rows per type, so re-derive the full daily
    // series from events to get each row's complete trailing window
    val full = spark.read.parquet(s"$sf/events.parquet")
      .groupBy($"event_type", to_date($"ts").as("date"))
      .agg(round(sum($"value"), 4).as("daily"))
      .as[(String, java.sql.Date, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2.getTime).map(_._3)).toMap
    daily.foreach { case (tpe, rows) =>
      val series = full(tpe)
      rows.zipWithIndex.foreach { case ((_, _, _, ewma), i) =>
        // row i of the ewma output ends at series index i+9
        val window = series.slice(i, i + 10)
        assert(ewma >= window.min - 1e-6 && ewma <= window.max + 1e-6,
          s"$tpe row $i: $ewma outside [${window.min}, ${window.max}]")
      }
    }
  }

  test("q_winsorized_mean: lo ≤ p50-ish wmean ≤ hi and bounds are real values") {
    import spark.implicits._
    val rows = run("q_winsorized_mean")
      .select($"event_type", $"lo", $"hi", $"wmean")
      .as[(String, Double, Double, Double)].collect()
    val values = spark.read.parquet(s"$sf/events.parquet")
      .select($"event_type", $"value").as[(String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { case (t, lo, hi, wm) =>
      assert(lo <= hi && wm >= lo - 1e-4 && wm <= hi + 1e-4, s"$t: $lo $wm $hi")
      // the disc quantile picks ACTUAL sample values, never interpolates
      assert(values(t).contains(lo) && values(t).contains(hi), t)
    }
  }

  test("q_degree_hist masses sum to the symmetric edge count; " +
    "q_sample_weighted takes exactly min(5, |source|) docs per source") {
    import spark.implicits._
    val hist = run("q_degree_hist").as[(Long, Long)].collect()
    val edges = run("q_dedup_lsh").count()
    assert(hist.map(h => h._1 * h._2).sum === 2 * edges)
    val per = run("q_sample_weighted").groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    val sizes = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    sizes.foreach { case (src, n) =>
      assert(per.getOrElse(src, 0L) === math.min(5L, n), src)
    }
  }

  test("q_sim_report partners carry the exact verified-pair Jaccard, top-3") {
    import spark.implicits._
    val vp = run("q_dedup_near").as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, j) => Seq((a, b) -> j, (b, a) -> j) }.toMap
    val rep = run("q_sim_report")
      .as[(Long, Long, Double, Long)].collect()
    rep.foreach { case (d, p, j, rk) =>
      assert(vp((d, p)) === j, s"$d->$p")
      assert(rk >= 1 && rk <= 3)
    }
    // ranks are the TOP of each doc's partner list, not an arbitrary 3
    rep.groupBy(_._1).foreach { case (d, rs) =>
      val best = vp.collect { case ((a, _), j) if a == d => j }.toSeq
        .sorted(Ordering[Double].reverse).take(rs.size)
      assert(rs.map(_._3).sorted === best.sorted, s"doc $d")
    }
  }

  test("q_triangle_count matches a brute-force triangle enumeration") {
    import spark.implicits._
    val edges = run("q_dedup_lsh").as[(Long, Long)].collect().toSet
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val perNode = scala.collection.mutable.Map.empty[Long, Long]
    // brute force: da<db<dc with all three edges present (ids ordered)
    for {
      (a, b) <- edges
      c <- adj.getOrElse(b, Set.empty)
      if adj.getOrElse(a, Set.empty).contains(c)
    } Seq(a, b, c).foreach(n => perNode(n) = perNode.getOrElse(n, 0L) + 1L)
    val got = run("q_triangle_count").as[(Long, Long)].collect().toMap
    assert(got === perNode.toMap)
    assert(nodes.nonEmpty) // fixture sanity: the graph isn't empty
  }

  // ------------------------------------------------- waves 4-7 (round 6)

  test("q_window_count_distinct's final cumulative count per type equals " +
    "an independent COUNT(DISTINCT user_id)") {
    import spark.implicits._
    val last = run("q_window_count_distinct")
      .groupBy($"event_type")
      .agg(max($"cum_distinct_users").as("cum"))
      .as[(String, Long)].collect().toMap
    val expected = spark.read.parquet(s"$sf/events.parquet")
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("d"))
      .as[(String, Long)].collect().toMap
    assert(last === expected)
  }

  test("q_vocab_growth's final cum_types equals the corpus' distinct " +
    "token count (and cum columns are monotone)") {
    import spark.implicits._
    val rows = run("q_vocab_growth")
      .select($"bucket", $"cum_tokens", $"cum_types")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.sliding(2).forall {
      case Array(a, b) => a._2 <= b._2 && a._3 <= b._3
      case _ => true
    })
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split($"text", " ")).as("tok"))
      .filter(length($"tok") > 0)
      .agg(countDistinct($"tok")).as[Long].head()
    assert(rows.last._3 === expected)
  }

  test("q_gini stays in [0, 10000] bp; a constant-valued group scores 0") {
    import spark.implicits._
    run("q_gini").select($"gini_bp").as[Long].collect()
      .foreach(g => assert(g >= 0 && g <= 10000))
    // constant values → perfect equality → G = 0 (by the same formula)
    val const = Seq(("a", 5L), ("a", 5L), ("a", 5L)).toDF("g", "cents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"cents")
    val g0 = const
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy($"g")
      .agg(count(lit(1)).as("n"),
        sum($"cents".cast("decimal(38,0)")).as("s0"),
        sum(($"i" * $"cents").cast("decimal(38,0)")).as("s1"))
      .withColumn("gini_bp", expr(
        "CAST(((2 * s1 - (CAST(n AS DECIMAL(38,0)) + 1) * s0) * 10000) div (CAST(n AS DECIMAL(38,0)) * s0) AS BIGINT)"))
      .select($"gini_bp").as[Long].head()
    assert(g0 === 0L)
  }

  test("q_ks_test is bounded [0, 10000] bp and ZERO for identical cohorts") {
    import spark.implicits._
    val r = run("q_ks_test").select($"ks_bp").as[Long].head()
    assert(r >= 0 && r <= 10000)
    // same-distribution sanity: comparing a cohort against itself via
    // the same cross-multiplied ECDF formula yields exactly 0
    val df = Seq((1L, 0L), (1L, 1L), (2L, 0L), (2L, 1L)).toDF("bin", "g")
    val binned = df.groupBy($"bin").agg(
      sum(when($"g" === 0, 1L).otherwise(0L)).as("c0"),
      sum(when($"g" === 1, 1L).otherwise(0L)).as("c1"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"bin"); val tot = Window.partitionBy()
    val bp = binned
      .withColumn("f0", sum($"c0").over(w))
      .withColumn("f1", sum($"c1").over(w))
      .withColumn("n0", sum($"c0").over(tot))
      .withColumn("n1", sum($"c1").over(tot))
      .withColumn("bp", expr(
        "(abs(CAST(f0 AS DECIMAL(38,0)) * n1 - CAST(f1 AS DECIMAL(38,0)) * n0) * 10000) div (CAST(n0 AS DECIMAL(38,0)) * n1)"))
      .agg(max($"bp").cast("long")).as[Long].head()
    assert(bp === 0L)
  }

  test("q_interval_merge islands are disjoint per user, ordered, and " +
    "preserve the event count") {
    import spark.implicits._
    val rows = run("q_interval_merge")
      .select($"user_id", $"island", $"start_s", $"end_s", $"n_events")
      .as[(Long, Long, Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      sorted.foreach { case (_, _, s, e, _) => assert(s < e) }
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 < b._3,
          s"islands overlap: $a vs $b") // prev end strictly before next start
        case _ =>
      }
    }
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    assert(rows.map(_._5).sum === total)
  }

  test("q_rfm quintile scores are 1..5 with near-equal bucket sizes") {
    import spark.implicits._
    val rows = run("q_rfm")
      .select($"r_score", $"f_score", $"m_score")
      .as[(Long, Long, Long)].collect()
    Seq(rows.map(_._1), rows.map(_._2), rows.map(_._3)).foreach { scores =>
      assert(scores.forall(s => s >= 1 && s <= 5))
      val sizes = scores.groupBy(identity).values.map(_.size)
      assert(sizes.max - sizes.min <= 1, sizes) // ntile balance law
    }
  }

  test("q_chi_square marginals reconcile and terms are non-negative") {
    import spark.implicits._
    val rows = run("q_chi_square")
      .select($"o", $"term_bp").as[(Long, Long)].collect()
    assert(rows.map(_._1).sum ===
      spark.read.parquet(s"$sf/events.parquet").count())
    rows.foreach { case (_, t) => assert(t >= 0) }
  }

  test("q_benford digits cover only 1..9 and counts reconcile to orders") {
    import spark.implicits._
    val rows = run("q_benford").select($"digit", $"n").as[(Long, Long)].collect()
    assert(rows.forall(r => r._1 >= 1 && r._1 <= 9))
    assert(rows.map(_._2).sum ===
      spark.read.parquet(s"$sf/orders.parquet").count())
  }

  test("q_ab_test z sign matches lift sign; counts bounded by cohort sizes") {
    import spark.implicits._
    val (n0, c0, n1, c1, lift, z) = run("q_ab_test")
      .as[(Long, Long, Long, Long, Double, Option[Double])].head()
    assert(c0 <= n0 && c1 <= n1)
    z.foreach(zv => assert(math.signum(zv) === math.signum(lift) ||
      lift == 0.0))
  }

  test("q_mode matches a brute-force per-group argmax with the pinned " +
    "tie rule") {
    import spark.implicits._
    val got = run("q_mode")
      .select($"event_type", $"mode_bucket", $"n")
      .as[(String, Long, Long)].collect().toSet
    val brute = spark.read.parquet(s"$sf/events.parquet")
      .select($"event_type", floor($"value" / 10).cast("long").as("b"))
      .as[(String, Long)].collect()
      .groupBy(_._1).map { case (t, rs) =>
        val counts = rs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        val best = counts.toSeq.sortBy { case (b, n) => (-n, b) }.head
        (t, best._1, best._2)
      }.toSet
    assert(got === brute)
  }

  test("q_random_projection preserves relative distances on average " +
    "(JL sanity: projected dot of a vector with itself is positive)") {
    import spark.implicits._
    val rows = run("q_random_projection")
      .groupBy($"vec_id").agg(count(lit(1)).as("dims"))
      .as[(Long, Long)].collect()
    assert(rows.forall(_._2 == 8L)) // every vector got all 8 output dims
  }

  test("q_attribution conserves purchases; channels are real event types") {
    import spark.implicits._
    val rows = run("q_attribution")
      .select($"channel", $"n_purchases").as[(String, Long)].collect()
    val totalPurchases = spark.read.parquet(s"$sf/events.parquet")
      .filter($"event_type" === "purchase").count()
    assert(rows.map(_._2).sum === totalPurchases)
    val legal = Set("click", "view", "signup", "error", "direct")
    assert(rows.forall(r => legal.contains(r._1)), rows.map(_._1).toSeq)
  }

  test("q_session_stats and q_compaction_plan conserve their row masses") {
    import spark.implicits._
    val events = spark.read.parquet(s"$sf/events.parquet").count()
    // sessions: mean_events_bp is Σevents·1e4/Σsessions per bucket —
    // reconstruct a lower bound instead: total sessions equals
    // q_interval_merge's island count
    val sessions = run("q_session_stats")
      .agg(sum($"n_sessions")).as[Long].head()
    val islands = run("q_interval_merge").count()
    assert(sessions === islands)
    val planned = run("q_compaction_plan").agg(sum($"n_rows")).as[Long].head()
    assert(planned === events)
  }

  test("q_dedup_incremental pairs point from incoming into the store") {
    import spark.implicits._
    val rows = run("q_dedup_incremental")
      .select($"incoming_id", $"dup_of").as[(Long, Long)].collect()
    assert(rows.nonEmpty) // fixture has cross-split prefix dupes
    rows.foreach { case (in, of) => assert(in >= 250 && of < 250) }
  }

  test("q_rolling_median stays inside its window's value range and " +
    "window size never exceeds 7") {
    import spark.implicits._
    val rows = run("q_rolling_median")
      .select($"event_type", $"date", $"m", $"n", $"med7")
      .as[(String, java.sql.Date, Double, Long, Double)].collect()
    assert(rows.forall(r => r._4 >= 1 && r._4 <= 7))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val byDate = rs.sortBy(_._2.getTime)
      byDate.foreach { case (_, d, _, _, med) =>
        val win = byDate.filter { r =>
          val diff = (d.getTime - r._2.getTime) / 86400000L
          diff >= 0 && diff <= 6
        }.map(_._3)
        assert(win.contains(med)) // disc median IS one of the values
        assert(med >= win.min && med <= win.max)
      }
    }
  }

  test("q_item_similarity: Jaccard never exceeds either directional " +
    "confidence (set algebra), supports bound co-counts") {
    import spark.implicits._
    val rows = run("q_item_similarity")
      .select($"n_ab", $"jac_bp", $"conf_ab_bp", $"conf_ba_bp")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nab, jac, cab, cba) =>
      assert(nab >= 2)
      assert(jac <= cab && jac <= cba, s"($nab,$jac,$cab,$cba)")
      assert(jac >= 0 && cab <= 10000 && cba <= 10000)
    }
  }

  test("q_variant_json's VARIANT extraction agrees with the JSON-path " +
    "extraction over the same rows") {
    import spark.implicits._
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val both = ev.select(
      expr("variant_get(parse_json(props), '$.k', 'long')").as("kv"),
      get_json_object($"props", "$.k").cast("long").as("kj"))
    assert(both.filter(not($"kv" <=> $"kj")).count() === 0)
    val agg = run("q_variant_json")
      .agg(sum($"n")).as[Long].head()
    assert(agg === ev.count())
  }

  test("q_link_predict proposes only NON-edges with real 2-path support") {
    import spark.implicits._
    val preds = run("q_link_predict")
      .select($"a", $"b", $"cn", $"aa_bp").as[(Long, Long, Long, Long)]
      .collect()
    assert(preds.nonEmpty)
    preds.foreach { case (a, b, cn, aa) =>
      assert(a < b); assert(cn >= 1); assert(aa >= 0)
    }
    val edges = run("q_dedup_lsh").select($"da", $"db")
      .as[(Long, Long)].collect().toSet
    preds.foreach { case (a, b, _, _) =>
      assert(!edges.contains((a, b)), s"($a,$b) is an existing edge")
    }
  }

  test("q_mrr_eval: reciprocal ranks follow exactly from first_rel_rank; " +
    "precision hits bounded by 5") {
    import spark.implicits._
    val rows = run("q_mrr_eval")
      .select($"first_rel_rank", $"rr_bp", $"p5_hits")
      .as[(Long, Long, Long)].collect()
    assert(rows.length === 50)
    rows.foreach { case (fr, rr, p5) =>
      assert(p5 >= 0 && p5 <= 5)
      if (fr == -1) assert(rr === 0)
      else { assert(fr >= 1 && fr <= 10); assert(rr === 10000L / fr) }
      // a top-5 hit implies the first relevant rank is ≤ 5
      if (p5 > 0) assert(fr >= 1 && fr <= 5)
    }
  }

  test("q_fk_check reports zero orphans on the coherent fixture") {
    import spark.implicits._
    val rows = run("q_fk_check")
      .select($"fk", $"n_rows", $"n_orphans")
      .as[(String, Long, Long)].collect()
    assert(rows.length === 3)
    rows.foreach { case (fk, n, orph) =>
      assert(n > 0, fk); assert(orph === 0L, fk)
    }
  }

  test("q_bm25_topk: scores descend, hits are real, and every returned " +
    "score matches a driver-side BM25 recomputation") {
    import spark.implicits._
    val terms = Seq("join", "vector", "dup")
    val out = run("q_bm25_topk")
      .select($"doc_id", $"n_hits", $"bm25")
      .as[(Long, Long, Double)].collect()
    assert(out.nonEmpty && out.length <= 20)
    out.sliding(2).foreach {
      case Array(x, y) =>
        assert(x._3 > y._3 || (x._3 == y._3 && x._1 < y._1))
      case _ =>
    }
    out.foreach { case (_, h, s) =>
      assert(h >= 1 && h <= terms.length); assert(s > 0.0)
    }
    // driver-side reference: same formula from raw text, top doc only
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val dls = docs.map { case (id, t) => id -> t.split(" ", -1).length.toLong }.toMap
    val bigT = dls.values.sum
    val bigD = dls.size.toLong
    val dfm = terms.map(t =>
      t -> docs.count(_._2.split(" ", -1).contains(t)).toLong).toMap
    def bm25(id: Long): Double = {
      val toks = docs.find(_._1 == id).get._2.split(" ", -1)
      val sum = terms.map { t =>
        val tf = toks.count(_ == t).toLong
        if (tf == 0) BigDecimal(0)
        else {
          val term = math.log((2 * bigD + 2).toDouble /
              (2 * dfm(t) + 1).toDouble) *
            (22L * bigT * tf).toDouble /
            (10L * bigT * tf + 3L * bigT + 9L * dls(id) * bigD).toDouble
          BigDecimal(term).setScale(10, BigDecimal.RoundingMode.HALF_UP)
        }
      }.sum
      sum.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // every returned row's score matches the reference, not just the top
    out.foreach { case (id, _, score) =>
      assert(bm25(id) === score, s"doc $id")
    }
    // the rare term's idf dominates: every returned doc containing
    // "dup" outranks every returned doc without it
    val hasDup = docs.filter(_._2.split(" ", -1).contains("dup")).map(_._1).toSet
    val (withDup, without) = out.partition(r => hasDup(r._1))
    if (withDup.nonEmpty && without.nonEmpty)
      assert(withDup.map(_._3).min > without.map(_._3).max)
  }

  test("q_split_leakage: totals cover every verified pair and the " +
    "cross-split counts match a driver recompute of the split hash") {
    import spark.implicits._
    val rows = run("q_split_leakage")
      .select($"split_a", $"split_b", $"n_pairs", $"crosses")
      .as[(String, String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, _, x) =>
      assert(a <= b, s"($a,$b) not normalized")
      assert(x === (if (a == b) 0L else 1L))
    }
    def splitOf(id: Long): String = {
      val h = ((id % 1000000007L) * 2654435761L) % 1000L
      if (h < 800) "train" else if (h < 900) "val" else "test"
    }
    val pairs = run("q_dedup_near").select($"da", $"db")
      .as[(Long, Long)].collect()
    assert(rows.map(_._3).sum === pairs.length, "pair census incomplete")
    val expected = pairs
      .map { case (a, b) =>
        val (sa, sb) = (splitOf(a), splitOf(b))
        (if (sa <= sb) (sa, sb) else (sb, sa))
      }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(rows.map(r => (r._1, r._2) -> r._3).toMap === expected)
  }

  test("q_semantic_clusters == driver union-find over the q_dedup_embed " +
    "pairs; singletons are their own canonical") {
    import spark.implicits._
    val pairs = run("q_dedup_embed")
      .select($"ida", $"idb").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = run("q_semantic_clusters")
      .select($"vec_id", $"canonical", $"kept")
      .as[(Long, Long, Long)].collect()
    val allIds = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id").as[Long].collect().toSet
    assert(got.map(_._1).toSet === allIds, "every vector labeled")
    got.foreach { case (id, canon, kept) =>
      assert(canon === find(id), s"vec $id")
      assert(kept === (if (id == canon) 1L else 0L), s"vec $id")
    }
  }

  test("q_mmr_diversify: the full 3-step MMR selection matches a " +
    "driver-side recomputation from raw embeddings, every query") {
    import spark.implicits._
    val out = run("q_mmr_diversify")
      .select($"qid", $"step", $"nid").as[(Long, Long, Long)].collect()
    assert(out.length === 60) // 20 queries × 3 steps
    val byQ = out.groupBy(_._1)
    assert(byQ.size === 20)
    byQ.values.foreach { rows =>
      assert(rows.map(_._3).distinct.length === 3, "re-selected an item")
    }
    // driver-side reference MMR (same λ=0.7, pool 6, k=3, id ties)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, e) => id -> e.map(_.toDouble).toArray }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Long, b: Long): Double =
      dot(vecs(a), vecs(b)) /
        (math.sqrt(dot(vecs(a), vecs(a))) * math.sqrt(dot(vecs(b), vecs(b))))
    (0L until 20L).foreach { qid =>
      val pool = vecs.keys.filter(_ != qid).toSeq
        .map(n => n -> cos(qid, n))
        .sortBy { case (n, r) => (-r, n) }.take(6)
      val rel = pool.toMap
      var selected = Vector(pool.head._1)
      (2 to 3).foreach { _ =>
        val pick = pool.map(_._1).filterNot(selected.contains)
          .map { c =>
            val ms = selected.map(sel => cos(c, sel)).max
            c -> (0.7 * rel(c) - 0.3 * ms)
          }
          .sortBy { case (n, m) => (-m, n) }.head._1
        selected :+= pick
      }
      val got = byQ(qid).sortBy(_._2).map(_._3).toVector
      assert(got === selected, s"query $qid: engine $got vs reference $selected")
    }
  }

  test("q_split_assign: splits are disjoint + exhaustive per source, " +
    "shares are exact integer basis points near 80/10/10") {
    import spark.implicits._
    val rows = run("q_split_assign")
      .select($"source", $"split", $"n_docs", $"tokens", $"share_bp")
      .as[(String, String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => Set("train", "val", "test")(r._2)))
    // exhaustive: per-source doc counts sum to the table's count
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_._3).sum === total)
    // share_bp is the exact integer division the contract states
    val bySource = rows.groupBy(_._1)
    bySource.foreach { case (src, rs) =>
      val srcTotal = rs.map(_._3).sum
      rs.foreach { case (_, _, n, tok, bp) =>
        assert(bp === n * 10000 / srcTotal, src)
        assert(tok >= n, src) // at least one token per doc
      }
      // hash uniformity: train ~80% within a wide fixture-size band
      val train = rs.find(_._2 == "train").map(_._5).getOrElse(0L)
      assert(train > 6000 && train < 9500, s"$src train=$train bp")
    }
  }

  test("q_dedup_lines == driver recompute of the keep-first segment rule; " +
    "kept mass equals the distinct-segment count") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    // driver recompute: 10-word segments, keep lowest (doc_id, seg_idx)
    val segs = docs.flatMap { case (id, text) =>
      text.split(" ").grouped(10).zipWithIndex.map {
        case (ws, i) => (id, i.toLong, ws.mkString(" "))
      }
    }
    val keeper = segs.groupBy(_._3).map { case (seg, occ) =>
      seg -> occ.map(o => (o._1, o._2)).min
    }
    val expected = docs.map { case (id, text) =>
      val mine = segs.filter(_._1 == id)
      val kept = mine.filter(s => keeper(s._3) == ((s._1, s._2)))
      val retained = kept.sortBy(_._2).map(_._3).mkString(" ")
      (id, mine.length.toLong, kept.length.toLong,
        retained.length.toLong, retained)
    }
    val got = run("q_dedup_lines")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got.toSeq === expected.toSeq)
    // every distinct segment survives exactly once corpus-wide
    assert(got.map(_._3).sum === keeper.size.toLong)
  }

  test("q_backoff_logprob: training docs never back off; scores are " +
    "negative log-masses with backoff bounded by the bigram count") {
    import spark.implicits._
    val rows = run("q_backoff_logprob")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, nBg, nBack, lp) =>
      assert(nBack >= 0 && nBack <= nBg, s"doc $id")
      assert(lp < 0.0, s"doc $id") // every term is ln of a mass < 1
      // the model is trained ON doc_id % 25 == 0: those docs' bigrams
      // are all in-model by construction — zero backoff terms
      if (id % 25 == 0) assert(nBack === 0L, s"train doc $id backed off")
    }
    // the 4% train split leaves genuinely unseen bigrams — the backoff
    // path must actually fire on the held-out mass
    assert(rows.filter(_._1 % 25 != 0).map(_._3).sum > 0L)
  }

  test("q_ngram_novelty: the earliest doc is fully novel, novel mass " +
    "sums to the distinct-trigram count, bp bounded") {
    import spark.implicits._
    val rows = run("q_ngram_novelty")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (id, nTri, nNovel, bp) =>
      assert(nNovel >= 0 && nNovel <= nTri, s"doc $id")
      assert(bp === nNovel * 10000 / nTri, s"doc $id")
    }
    assert(rows.head._4 === 10000L) // min doc_id owns all its trigrams
    val distinctTris = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .flatMap { case (_, t) =>
        val ws = t.split(" "); ws.indices.dropRight(2).map(i =>
          s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").distinct
      }.distinct.length
    assert(rows.map(_._3).sum === distinctTris.toLong)
  }

  test("q_sax_symbols: quartile bins are near-equal per type, symbols " +
    "follow bins, and bin order follows the (value, date) order") {
    import spark.implicits._
    val rows = run("q_sax_symbols")
      .as[(String, java.sql.Date, Double, Long, String)].collect()
    assert(rows.nonEmpty)
    val symbolFor = Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
    rows.foreach { case (t, _, _, bin, sym) =>
      assert(bin >= 1 && bin <= 4, t)
      assert(sym === symbolFor(bin), t)
    }
    rows.groupBy(_._1).foreach { case (t, rs) =>
      // ANSI ntile: bucket sizes differ by at most 1, remainder first
      val sizes = rs.groupBy(_._4).view.mapValues(_.length).toMap
      assert(sizes.values.max - sizes.values.min <= 1, t)
      // bins are monotone in the (value, date) sort the window declares
      val sorted = rs.sortBy(r => (r._3, r._2.toString))
      assert(sorted.map(_._4).toSeq === sorted.map(_._4).toSeq.sorted, t)
    }
  }

  test("q_pca_power == driver matvec recompute with the exact decimal " +
    "term discipline") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val dim = vecs.head._2.length
    val sums = Array.fill(dim)(BigDecimal(0))
    vecs.foreach { case (_, e) =>
      val v = e.map(_.toDouble)
      val s = v.foldLeft(0.0)(_ + _) * 0.125
      var j = 0
      while (j < dim) {
        sums(j) += BigDecimal(s * v(j)).setScale(10, BigDecimal.RoundingMode.HALF_UP)
        j += 1
      }
    }
    val expected = sums.zipWithIndex.map { case (acc, j) =>
      (j + 1L, acc.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        vecs.length.toLong)
    }.toSeq
    val got = run("q_pca_power").as[(Long, Double, Long)].collect().toSeq
    assert(got === expected)
  }

  test("q_recursive_cte: depth census matches the closed form " +
    "floor(log2 key) and the plan recurses natively (UnionLoop)") {
    import spark.implicits._
    val keys = spark.read.parquet(s"$sf/customer.parquet")
      .select($"c_custkey").as[Long].collect()
    // recompute each key's walk directly: steps of k /= 8 until ≤ 1
    def depth(k: Long): Long = {
      var (cur, steps) = (k, 0L)
      while (cur > 1) { cur /= 8; steps += 1 }
      steps
    }
    val expected = keys.groupBy(depth).view.mapValues(_.length.toLong).toMap
    val df = run("q_recursive_cte")
    val got = df.select($"depth", $"n_nodes").as[(Long, Long)]
      .collect().toMap
    assert(got === expected)
    // the recursion must execute as Spark's native loop operator, not
    // some unrolled approximation
    val logical = df.queryExecution.analyzed.toString
    assert(logical.contains("UnionLoop"), logical.take(2000))
  }

  test("q_event_paths == driver recompute of first-3-event paths") {
    import spark.implicits._
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select($"user_id", $"event_id", $"event_type")
      .as[(Long, Long, String)].collect()
    val expected = ev.groupBy(_._1).map { case (_, rows) =>
      rows.sortBy(_._2).take(3).map(_._3).mkString(">")
    }.groupBy(identity).map { case (p, occ) => (p, occ.size.toLong) }
      .toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = run("q_event_paths").as[(String, Long)].collect().toSeq
    assert(got === expected)
  }

  test("q_clustering_coeff == brute-force lcc from the candidate edges") {
    import spark.implicits._
    val edges = run("q_dedup_lsh").as[(Long, Long)].collect().toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = adj.collect { case (v, nb) if nb.size >= 2 =>
      val tri = nb.toSeq.combinations(2)
        .count { case Seq(a, b) => adj(a).contains(b) }
      val lcc = BigDecimal(2L * tri) / BigDecimal(nb.size.toLong * (nb.size - 1))
      (v, nb.size.toLong, tri.toLong,
        lcc.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)
    val got = run("q_clustering_coeff")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === expected)
    // the score means what it claims: lcc ∈ [0, 1], and a node whose
    // neighborhood is a clique scores exactly 1
    assert(got.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
    got.filter(r => r._3 == r._2 * (r._2 - 1) / 2)
      .foreach(r => assert(r._4 === 1.0, s"node ${r._1}"))
  }

  test("q_hybrid_rrf == driver recompute of both arms + integer RRF") {
    import spark.implicits._
    // lexical arm: exact-decimal BM25 (the q_bm25_topk formula)
    val docs = graft.util.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val dls = docs.map { case (id, t) => id -> t.split(" ", -1).length.toLong }.toMap
    val bigT = dls.values.sum; val bigD = docs.length.toLong
    val terms = Seq("join", "vector", "dup")
    val tf = for {
      (id, t) <- docs; w <- terms
      n = t.split(" ", -1).count(_ == w).toLong if n > 0
    } yield (id, w, n)
    val dfc = tf.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val bm25 = tf.groupBy(_._1).view.mapValues { rows =>
      rows.map { case (id, w, n) =>
        val s = math.log((2 * bigD + 2).toDouble / (2 * dfc(w) + 1).toDouble) *
          (22L * bigT * n).toDouble /
          (10L * bigT * n + 3L * bigT + 9L * dls(id) * bigD).toDouble
        BigDecimal(java.math.BigDecimal.valueOf(s)
          .setScale(10, java.math.RoundingMode.HALF_UP))
      }.sum
    }.toMap
    val lexRank = bm25.toSeq.sortBy { case (id, x) => (-x, id) }.take(100)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // semantic arm: cosine vs vec 0, left-to-right float64 accumulation
    val vecs = graft.util.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, e) => id -> e.map(_.toDouble).toArray }.toMap
    def nrm(v: Array[Double]) = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
    val qv = vecs(0L); val qn = nrm(qv)
    val semRank = vecs.toSeq.filter(_._1 != 0L).map { case (id, v) =>
      val dot = qv.zip(v).foldLeft(0.0)((a, p) => a + p._1 * p._2)
      id -> dot / (qn * nrm(v))
    }.sortBy { case (id, c) => (-c, id) }.take(100)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    def rrfTerm(r: Option[Long]): Long = r.fold(0L)(x =>
      BigDecimal(java.math.BigDecimal.valueOf(1000000.0 / (60 + x))
        .setScale(0, java.math.RoundingMode.HALF_UP)).toLong)
    val expected = (lexRank.keySet ++ semRank.keySet).toSeq.map { id =>
      (id, lexRank.get(id), semRank.get(id),
        rrfTerm(lexRank.get(id)) + rrfTerm(semRank.get(id)))
    }.sortBy { case (id, _, _, s) => (-s, id) }.take(20)
    val got = run("q_hybrid_rrf").collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3))
    }.toSeq
    assert(got === expected)
    // fusion bites: the winning docs draw from BOTH arms on this fixture
    assert(got.exists(_._2.isDefined) && got.exists(_._3.isDefined))
  }

  test("q_embedding_drift: self-drift is zero — identical cohorts read " +
    "l2 = 0 and cos = 1 exactly") {
    import spark.implicits._
    // duplicate every vector into BOTH cohorts (vec_id parity flipped
    // copy): per-label centroids are then identical by construction,
    // so the operator's arithmetic must read exactly (0, 1)
    val e = graft.util.Tables.embeddings(spark, sf)
    val doubled = e.select(($"vec_id" * 2).as("vec_id"), $"embedding", $"label")
      .unionByName(
        e.select(($"vec_id" * 2 + 1).as("vec_id"), $"embedding", $"label"))
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    doubled.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents").foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").limit(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val rows = SparkEntry.all("q_embedding_drift").fn(spark, dir)
      .select($"label", $"n_a", $"n_b", $"l2_drift", $"cos_centroids")
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (l, na, nb, d, c) =>
      assert(na === nb, s"label $l")
      assert(d === 0.0, s"label $l: self-drift $d")
      assert(c === 1.0, s"label $l: self-cos $c")
    }
    // and on the REAL split the halves differ (labels are random in the
    // fixture, so the cosine can read anything in [-1, 1] — only the
    // Cauchy-Schwarz bound and nonzero displacement are guaranteed)
    val real = run("q_embedding_drift")
      .select($"l2_drift", $"cos_centroids").as[(Double, Double)].collect()
    assert(real.forall { case (d, c) =>
      d > 0.0 && math.abs(c) <= 1.0 + 1e-12 && !c.isNaN })
  }

  test("q_seasonal_decomp == exact integer-space recompute; components " +
    "reconstruct the series") {
    import spark.implicits._
    val daily = graft.util.Tables.events(spark, sf)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg((round(sum($"value".cast("decimal(28,10)")), 4) * lit(10000))
        .cast("long").as("x4"))
      .select($"event_type", $"d".cast("string"), $"x4")
      .as[(String, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1)).toMap
    val expected = daily.flatMap { case (t, days) =>
      val interior = (3 until days.length - 3).map { i =>
        val t7 = (i - 3 to i + 3).map(j => days(j)._2).sum
        (days(i)._1, days(i)._2, t7, 7L * days(i)._2 - t7)
      }
      val cal = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
      def dow(d: String) = java.time.LocalDate.parse(d, cal).getDayOfWeek.getValue
      val seas = interior.groupBy(r => dow(r._1))
        .view.mapValues(rs => (rs.map(_._4).sum, rs.size.toLong)).toMap
      interior.map { case (d, x4, t7, dd) =>
        val (sd, cd) = seas(dow(d))
        val seasonal = sd.toDouble / (cd.toDouble * 7e4)
        (t, d, x4.toDouble / 1e4, t7.toDouble / 7e4, seasonal,
          dd.toDouble / 7e4 - seasonal)
      }
    }.toSet
    val got = run("q_seasonal_decomp")
      .select($"event_type", $"date".cast("string"), $"daily", $"trend",
        $"seasonal", $"residual")
      .as[(String, String, Double, Double, Double, Double)].collect().toSet
    assert(got === expected) // bit-exact: every column is one IEEE op chain
    // additive reconstruction: trend + seasonal + residual == daily
    got.foreach { case (t, d, x, tr, se, re) =>
      assert(math.abs(tr + se + re - x) < 1e-9, s"($t, $d)")
    }
  }

  test("q_sql_pipe lowers to the SAME optimized plan as the standard form") {
    val pipe = run("q_sql_pipe")
    val std = spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 4)
        |            AS DOUBLE) AS rev
        |FROM orders_sp WHERE o_orderstatus = 'O'
        |GROUP BY o_orderpriority HAVING COUNT(*) >= 10
        |ORDER BY o_orderpriority""".stripMargin)
    assert(pipe.queryExecution.optimizedPlan
      .sameResult(std.queryExecution.optimizedPlan),
      s"pipe plan diverged:\n${pipe.queryExecution.optimizedPlan}\nvs\n" +
        std.queryExecution.optimizedPlan)
    assert(pipe.collect().toSeq === std.collect().toSeq)
  }

  test("q_cusum == the textbook max(0, S + d) recursion replayed driver-side") {
    import spark.implicits._
    val daily = graft.util.Tables.events(spark, sf)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("n"))
      .select($"event_type", $"d".cast("string"), $"n")
      .as[(String, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1)).toMap
    val expected = daily.flatMap { case (t, days) =>
      val n7 = days.take(7).map(_._2).sum
      var sAcc = 0L
      days.toSeq.map { case (d, n) =>
        sAcc = math.max(0L, sAcc + (7L * n - n7))
        (t, d, n, sAcc, 10000L * sAcc / n7)
      }
    }.toSet
    val got = run("q_cusum")
      .select($"event_type", $"date".cast("string"), $"n", $"cusum7", $"cusum_bp")
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(got === expected)
    // the detector is live: at least one type accumulates positive drift
    assert(got.exists(_._4 > 0L))
  }

  test("q_diff_in_diff == driver recompute of the four r4a cell means") {
    import spark.implicits._
    val ev = graft.util.Tables.events(spark, sf)
      .select($"event_type", $"user_id", to_date($"ts").cast("string"), $"value")
      .as[(String, Long, String, Double)].collect()
    def r4a(vals: Seq[Double]): Double = {
      val s = vals.map(v => BigDecimal(java.math.BigDecimal.valueOf(v))
        .setScale(10)).sum
      val num = s.setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .*(BigDecimal(1000000)).toLongExact.toDouble
      math.floor(num / (vals.size * 100.0) + 0.5) / 1e4
    }
    val expected = ev.groupBy(_._1).map { case (t, rows) =>
      def m(tr: Boolean, po: Boolean) = r4a(rows.collect {
        case (_, u, d, v) if (u % 2 == 1) == tr && (d >= "2024-01-16") == po => v
      }.toSeq)
      val (cp, cq, tp, tq) = (m(false, false), m(false, true),
        m(true, false), m(true, true))
      t -> ((cp, cq, tp, tq, rows.size.toLong, (tq - tp) - (cq - cp)))
    }
    val got = run("q_diff_in_diff")
      .as[(String, Double, Double, Double, Double, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got === expected)
  }

  test("q_topk_sketch: combined per-lang states == one whole-corpus sketch") {
    import spark.implicits._
    val words = graft.util.Tables.documents(spark, sf)
      .select($"lang", explode(split($"text", " ")).as("word"))
    val whole = words
      .agg(expr("approx_top_k_estimate(approx_top_k_accumulate(word, 1000), 100)").as("t"))
      .select(explode($"t").as("e"))
      .select($"e.item", $"e.count").as[(String, Long)].collect().toMap
    val combined = words.groupBy($"lang")
      .agg(expr("approx_top_k_accumulate(word, 1000)").as("st"))
      .coalesce(1) // the Spark 4.1.2 empty-partial-buffer guard (see query)
      .agg(expr("approx_top_k_estimate(approx_top_k_combine(st), 100)").as("t"))
      .select(explode($"t").as("e"))
      .select($"e.item", $"e.count").as[(String, Long)].collect().toMap
    assert(combined === whole)
    val rows = run("q_topk_sketch").collect()
    assert(rows.length === 20)
    assert(rows.forall(_.getAs[Boolean]("sketch_exact")))
  }

  test("q_hll_union: union of per-day sketches == one whole-table sketch " +
    "(HLL registers depend only on the value SET)") {
    import spark.implicits._
    val e = graft.util.Tables.events(spark, sf)
    val whole = e.groupBy($"event_type")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est"))
      .as[(String, Long)].collect().toMap
    val merged = e.groupBy($"event_type", to_date($"ts").as("d"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .groupBy($"event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .as[(String, Long)].collect().toMap
    assert(merged === whole)
    // and the declared query's envelope boolean is genuinely TRUE
    val rows = run("q_hll_union").collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("merged_within_5rsd")))
  }

  test("XML round trip survives markup metacharacters (escaping is real)") {
    import spark.implicits._
    val nasty = Seq((1L, """<b>&"'</b> </ROW> ]]>"""), (2L, "plain"),
      (3L, "tab\tand\nnewline"))
    val df = nasty.toDF("id", "s")
      .select($"id", $"s",
        expr("from_xml(to_xml(named_struct('id', id, 's', s)), " +
          "'id BIGINT, s STRING')").as("p"))
      .select($"id", $"s", $"p.id".as("pid"), $"p.s".as("ps"))
      .as[(Long, String, Long, String)].collect().toSeq
    df.foreach { case (id, s, pid, ps) =>
      assert(pid === id); assert(ps === s, s"payload mangled for id=$id")
    }
  }

  test("q_sql_script: the procedural loop lands on the declarative fixed point") {
    import spark.implicits._
    val prices = graft.util.Tables.orders(spark, sf)
      .select($"o_totalprice").as[Double].collect()
    val (thr, n) = Iterator.iterate(100L)(_ * 2).drop(1)
      .map(t => (t, prices.count(_ > t).toLong))
      .find(_._2 < 100L).get
    val row = run("q_sql_script").as[(Long, Long)].collect().head
    assert(row === ((thr, n)))
    // loop semantics: a power-of-two multiple of the seed, count under
    // the floor at the landing threshold
    assert(row._1 % 100L == 0L && java.lang.Long.bitCount(row._1 / 100L) == 1)
    assert(row._2 < 100L)
  }

  test("q_try_funcs: every null comes from exactly the planted defect class") {
    import spark.implicits._
    val ev = graft.util.Tables.events(spark, sf)
      .select($"event_id", $"value").as[(Long, Double)].collect()
    val expected = (
      ev.length.toLong,
      ev.count(_._1 % 7 == 0).toLong,
      ev.filter(_._1 % 7 != 0).map(e => math.floor(e._2 * 100).toLong).sum,
      ev.count(_._1 % 5 == 0).toLong,
      ev.count(_._1 > 0).toLong)
    val got = run("q_try_funcs")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got === expected)
    // the defect classes genuinely fire on this fixture
    assert(got._2 > 0 && got._4 > 0 && got._5 > 0)
  }

  test("q_zipf_fit == driver OLS recompute in the same quantized ln space") {
    import spark.implicits._
    val wf = graft.util.Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("f"))
      .as[(String, Long)].collect()
    val top = wf.sortBy { case (w, f) => (-f, w) }.take(1000)
    val pts = top.zipWithIndex.map { case ((_, f), i) =>
      (BigInt(math.floor(math.log((i + 1).toDouble) * 1e6 + 0.5).toLong),
        BigInt(math.floor(math.log(f.toDouble) * 1e6 + 0.5).toLong))
    }
    val n = BigInt(pts.length)
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    // numerator flipped positive so BigInt truncation == engine DIV
    val slopeBp = -((BigInt(10000) * (sx * sy - n * sxy)) / (n * sxx - sx * sx))
    val row = run("q_zipf_fit").as[(Long, Long)].collect().head
    assert(row._1 === pts.length.toLong)
    assert(row._2 === slopeBp.toLong)
    // Zipf direction: the head of a word-frequency table slopes DOWN
    assert(row._2 < 0L)
  }

  test("q_join_salted == the plain unsalted join census (salt is invisible)") {
    import spark.implicits._
    val li = graft.util.Tables.lineitem(spark, sf)
    val ord = graft.util.Tables.orders(spark, sf)
    val expected = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast("decimal(28,10)")), 4).cast("double").as("rev"))
      .orderBy($"o_orderpriority")
      .as[(String, Long, Double)].collect().toSeq
    val got = run("q_join_salted").as[(String, Long, Double)].collect().toSeq
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("q_join_asof: equal-time orders are visible and the higher key wins, " +
    "later orders are invisible, and null keys/times never match") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_asof").toString
    def ts(t: String) = Option(t).map(java.sql.Timestamp.valueOf)
    Seq(
      (1L, ts("2024-01-05 00:00:00"), Some(5L)), // ties two orders
      (2L, ts("2024-01-01 00:00:00"), Some(7L)), // before any order
      (3L, ts("2024-03-01 00:00:00"), None),     // null user_id
      (4L, ts(null), Some(5L)),                  // null ts
      (5L, ts("2024-03-01 00:00:00"), Some(8L))) // only a null-date order
      .toDF("event_id", "ts", "user_id")
      .write.parquet(s"$dir/events.parquet")
    val orders = Seq(
      (10L, Some(5L), ts("2024-01-05 00:00:00")), // same instant as event 1
      (11L, Some(5L), ts("2024-01-05 00:00:00")), // tie: higher key wins
      (12L, Some(5L), ts("2024-01-06 00:00:00")), // after event 1: invisible
      (20L, Some(7L), ts("2024-02-01 00:00:00")), // after event 2
      (30L, None, ts("2024-01-01 00:00:00")),     // null custkey
      (40L, Some(8L), ts(null)))                  // null orderdate
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    orders.write.parquet(s"$dir/orders.parquet")
    def asof(d: String) = SparkEntry.all("q_join_asof").fn(spark, d)
      .select($"event_id", $"asof_orderkey", $"asof_date".cast("string"))
      .as[(Long, Option[Long], Option[String])].collect().toSeq
    assert(asof(dir) === Seq(
      (1L, Some(11L), Some("2024-01-05")),
      (2L, None, None),
      (3L, None, None),
      (4L, None, None),
      (5L, None, None)))
    // an empty orders table: every event comes back once, unmatched
    val noOrders = java.nio.file.Files.createTempDirectory("graft_asof0").toString
    spark.read.parquet(s"$dir/events.parquet")
      .write.parquet(s"$noOrders/events.parquet")
    orders.filter(lit(false)).write.parquet(s"$noOrders/orders.parquet")
    assert(asof(noOrders) === (1L to 5L).map(e => (e, None, None)))
  }

  test("q_join_asof_near picks the closer of its backward/forward parents, " +
    "ties to backward") {
    import spark.implicits._
    // date→epoch-seconds is computed IN the session (cast to long under
    // the session TZ), never via java.sql.Date.getTime — getTime is
    // midnight in the JVM default TZ, which under a non-UTC JVM shifts
    // every expected distance by the offset and can flip tie decisions
    // (ADVICE r9 #4)
    val back = run("q_join_asof")
      .select($"event_id", $"asof_orderkey",
        $"asof_date".cast("timestamp").cast("long"))
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val fwd = run("q_join_asof_fwd")
      .select($"event_id", $"next_orderkey",
        $"next_date".cast("timestamp").cast("long"))
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val ets = graft.util.Tables.events(spark, sf)
      .select($"event_id", $"ts".cast("long"))
      .as[(Long, Long)].collect().toMap
    val got = run("q_join_asof_near")
      .select($"event_id", $"near_orderkey", $"direction")
      .as[(Long, Option[Long], Option[String])].collect()
    assert(got.nonEmpty)
    got.foreach { case (eid, nk, dirn) =>
      val (bk, bd) = back(eid)
      val (fk, fd) = fwd(eid)
      val es = ets(eid)
      val db = bd.map(d => es - d)
      val df = fd.map(d => d - es)
      val expect = (db, df) match {
        case (None, None)         => (None, None)
        case (Some(_), None)      => (bk, Some("b"))
        case (None, Some(_))      => (fk, Some("f"))
        case (Some(b), Some(f))   =>
          if (b <= f) (bk, Some("b")) else (fk, Some("f"))
      }
      assert((nk, dirn) === expect, s"event $eid")
    }
  }

  test("q_survival_km is a valid life table: risk set telescopes, " +
    "log-survival is nonincreasing, and it matches a driver recompute") {
    import spark.implicits._
    val rows = run("q_survival_km")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    // n_risk telescopes: next risk set = current minus current exits
    rows.sliding(2).foreach {
      case Array((_, _, ne, nr, _), (_, _, _, nr2, _)) =>
        assert(nr2 === nr - ne)
      case _ =>
    }
    // first risk set is the whole cohort; last day exhausts it
    assert(rows.last._4 === rows.last._3)
    // conversions never exceed exits; exits never exceed the risk set
    rows.foreach { case (_, di, ne, nr, _) =>
      assert(di <= ne && ne <= nr)
    }
    // log-survival: 0-anchored, nonincreasing (each term is ln(p), p<=1)
    rows.map(_._5).sliding(2).foreach {
      case Array(a, b) => assert(b <= a + 1e-9)
      case _ =>
    }
    // driver recompute of the running log-survival from the integer
    // life-table columns (same per-term arithmetic, BigDecimal sum)
    var acc = BigDecimal(0)
    rows.foreach { case (_, di, _, nr, ls) =>
      if (di < nr)
        acc += BigDecimal(math.log((nr - di).toDouble / nr.toDouble))
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      val expect = acc.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(ls - expect) < 1e-12, s"day row $ls vs $expect")
    }
  }

  test("q_calibration_bins partitions the held-out split into balanced, " +
    "score-ordered deciles with exact bp accuracy") {
    import spark.implicits._
    val rows = run("q_calibration_bins")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq === (1L to 10L))
    val nHeldOut = graft.util.Tables.documents(spark, sf)
      .filter($"doc_id" % 5 === 0).count()
    assert(rows.map(_._2).sum === nHeldOut)
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1)
    rows.foreach { case (_, n, nc, accBp, hi, lo) =>
      assert(nc <= n && accBp === nc * 10000 / n)
      assert(lo <= hi)
    }
    // deciles are score-ordered: bin k's floor >= bin k+1's ceiling
    rows.sliding(2).foreach {
      case Array((_, _, _, _, _, lo1), (_, _, _, _, hi2, _)) =>
        assert(lo1 >= hi2)
      case _ =>
    }
  }

  test("q_auc_rank equals the brute-force pairwise definition " +
    "P(pos > neg) + P(tie)/2, ties exact at x2 scale") {
    import spark.implicits._
    val (nPos, nNeg, u2, aucBp) = run("q_auc_rank")
      .as[(Long, Long, Long, Long)].collect().head
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", ($"lang" === "en").as("pos")).as[(Long, Boolean)]
      .collect().toMap
    val scores = SparkEntry.all("q_doc_logprob").fn(spark, sf)
      .select($"doc_id", $"avg_logprob").as[(Long, Double)].collect()
    val pos = scores.filter(s => docs(s._1)).map(_._2)
    val neg = scores.filter(s => !docs(s._1)).map(_._2)
    assert(pos.length.toLong === nPos && neg.length.toLong === nNeg)
    // u2 = 2*(wins) + (ties) over all pos x neg pairs
    val u2Brute = (for (p <- pos; q <- neg) yield {
      if (p > q) 2L else if (p == q) 1L else 0L
    }).sum
    assert(u2 === u2Brute)
    assert(aucBp === u2Brute * 10000 / (2 * nPos * nNeg))
    assert(aucBp >= 0 && aucBp <= 10000)
  }
}
