package graft

/** Physical-plan assertions (the 100 TB design contract, SURVEY.md §4):
  * filters reach the parquet scan, projections prune columns, dims
  * broadcast, global top-k avoids a full sort. A query that silently
  * loses one of these properties still passes the value gate but dies at
  * scale — these tests pin the plan shape. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.all(name).fn(spark, sf).queryExecution.executedPlan.toString

  test("q_filter_pred pushes predicates into the parquet scan") {
    val p = plan("q_filter_pred")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull") || p.contains("GreaterThan") ||
      p.contains("In("), p)
  }

  test("q_scan_project prunes the parquet read schema to selected columns") {
    val p = plan("q_scan_project")
    assert(p.contains("ReadSchema"), p)
    // pruned scan must NOT carry untouched wide columns
    assert(!p.contains("l_comment") && !p.contains("l_shipdate"), p)
  }

  test("q_join_multiway broadcasts the dim tables") {
    val p = plan("q_join_multiway")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_topk plans TakeOrderedAndProject (no global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_agg_basic uses partial hash aggregation before the shuffle") {
    val p = plan("q_agg_basic")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_") || p.contains("Partial"), p)
  }

  test("q_daily_avg stays inside whole-stage codegen") {
    // AQE shows codegen only in the FINAL plan — execute, then look for
    // the `*(n)` codegen markers in the simple plan string
    val df = SparkEntry.all("q_daily_avg").fn(spark, sf)
    val qe = df.queryExecution
    df.collect()
    val p = qe.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
  }

  test("q_join_asof is the linear union+window plan: no join operator at all") {
    val p = plan("q_join_asof")
    assert(!p.contains("Join"), p) // union+window, never a pairwise join
    assert(p.contains("Window"), p)
    assert(p.contains("Union"), p)
  }

  test("q_join_asof_fwd keeps the same linear no-join shape in reverse time") {
    val p = plan("q_join_asof_fwd")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("Union"), p)
  }

  test("q_sim_topk broadcasts the query side (small) not the corpus") {
    val p = plan("q_sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q_dedup_embed generates candidates via an equi-join on the cell key") {
    val p = plan("q_dedup_embed")
    // the pair-space join must be hash/merge on the IVF cell id …
    val equiOnCell = p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("cell"))
    assert(equiOnCell, p)
    // … and the only nested-loop joins are the broadcast 10-row centroid
    // fan-outs (one per side of the probe self-join), never the corpus
    // pair space. When the memoized pair lineage is already cached (a
    // prior suite warmed it), the InMemoryRelation prints BOTH its
    // final AND initial AQE plans — count only up to the initial-plan
    // marker so the same operators aren't counted twice.
    val effective = p.indexOf("== Initial Plan ==") match {
      case -1 => p
      case i  => p.substring(0, i)
    }
    val bnlj = effective.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"unexpected BNLJ count $bnlj\n$p")
  }

  test("q_seq_pack's row-data cumsum is blocked — no per-lang single-task window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = SparkEntry.all("q_seq_pack").fn(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected the two-level prefix-sum windows")
    // a window over RAW rows (no Aggregate below it) must partition by
    // (lang, block) — ≥2 keys; only the tiny block-offset window (fed by
    // an Aggregate of per-block totals) may partition by lang alone
    wins.foreach { w =>
      val overRawRows = w.find { case _: Aggregate => true; case _ => false }.isEmpty
      if (overRawRows)
        assert(w.partitionSpec.size >= 2,
          s"row-data window partitions by ${w.partitionSpec.mkString(",")}\n$w")
    }
  }

  test("q_dedup_ngram joins the pre-built candidate table back by doc id " +
    "— equi joins only, no pair enumeration") {
    // the LSH candidate set is a session-memo lineage, so the query-time
    // plan is its cached scan + two doc-id equi join-backs; the banding
    // equi self-join itself is pinned on the BUILD below
    val p = plan("q_dedup_ngram")
    val equiOnDoc = p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("da#"))
    assert(equiOnDoc, p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("q_dedup_containment reuses the LSH candidate shape: equi joins only") {
    // same pair space as q_dedup_near — candidates from the memoized
    // candidate set, shingle-hash sets joined back by doc id; the
    // directional divisions add no join or shuffle of their own
    val p = plan("q_dedup_containment")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    val equiOnDoc = p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("da#"))
    assert(equiOnDoc, p)
  }

  test("the LSH candidate BUILD is the banded (band, bucket) equi " +
    "self-join — pinned on a fresh fixture") {
    // a fresh dir misses the session memo, so the plan carries the real
    // candidate build inside its cached relation — the shape that must
    // never degenerate to all-pairs
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_lsh").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = SparkEntry.all("q_dedup_ngram").fn(spark, dir)
      .queryExecution.executedPlan.toString
    val equiOnBand = p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) &&
        l.contains("band") && l.contains("bucket"))
    assert(equiOnBand, p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  /** Pins a consumer SortMergeJoin on `key` against a memoized lineage
    * persisted hash-partitioned on `key` (the one whose cached output
    * has column `marker`): the cached child reaches its
    * InMemoryTableScan through no ShuffleExchange and no Sort, and the
    * other child has exactly `otherShuffles` exchanges hash-partitioning
    * on `key`.
    * Walks AQE's current physical plan of query `name` over a fresh
    * copy of `table`, planned with broadcast disabled so fixture scale
    * can't hide the large-scale shape. With `rewarm` the plan is taken
    * after `clearCache` + `warmPersisted`, the bench's pass boundary. */
  private def assertCachedSideUnshuffled(name: String, table: String,
      key: String, marker: String, otherShuffles: Int,
      rewarm: Boolean = false): Unit = {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_memo").toString
    spark.read.parquet(s"$sf/$table.parquet")
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    // the lineage is built (and re-warmed) under the session's own
    // config, broadcast included, as the bench builds it
    SparkEntry.all(name).fn(spark, dir).collect()
    if (rewarm) {
      spark.catalog.clearCache()
      graft.util.SessionMemo.warmPersisted(spark): Unit
    }
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val root = SparkEntry.all(name).fn(spark, dir).queryExecution.executedPlan
      val p = root match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      def onKey(e: Seq[Expression]) =
        e.exists { case a: Attribute => a.name == key; case _ => false }
      // the operators from `n` down to the lineage's cached scan along a
      // single-child chain, if `n` is that chain
      def toCache(n: SparkPlan): Option[Seq[SparkPlan]] = n match {
        case m: InMemoryTableScanExec
            if m.relation.output.exists(_.name == marker) => Some(Nil)
        case _ if n.children.size == 1 => toCache(n.children.head).map(n +: _)
        case _ => None
      }
      val smjs = p.collect {
        case j: SortMergeJoinExec if onKey(j.leftKeys) && onKey(j.rightKeys) => j
      }
      val pinned = smjs.flatMap { j =>
        Seq(j.left -> j.right, j.right -> j.left).flatMap { case (c, o) =>
          toCache(c).map(path => (path, o))
        }
      }
      assert(pinned.size === 1, s"no single SMJ on $key over the cached " +
        s"lineage\n$p")
      val (path, other) = pinned.head
      assert(!path.exists(n => n.isInstanceOf[ShuffleExchangeExec] ||
        n.isInstanceOf[SortExec]),
        s"the cached side is shuffled or sorted again\n$p")
      val otherOnKey = other.collect {
        case e: ShuffleExchangeExec if (e.outputPartitioning match {
          case h: HashPartitioning => onKey(h.expressions)
          case _ => false
        }) => e
      }
      assert(otherOnKey.size === otherShuffles, s"the other side must " +
        s"shuffle on $key exactly $otherShuffles time(s)\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("q_corpus_report: the memoized canonicalAssign, persisted " +
    "hash-partitioned on doc_id, joins documents with NO exchange and " +
    "NO sort on the cached side") {
    assertCachedSideUnshuffled("q_corpus_report", "documents", "doc_id",
      "canonical", otherShuffles = 1)
  }

  test("q_basket_lift: with broadcast disabled the memoized pair counts, " +
    "persisted hash-partitioned on pa, SMJ the per-part supports with " +
    "NO pair-side exchange") {
    // the catalog-scale shape: a billion-item perPart is not
    // broadcastable, so the supports join falls back to SMJ whose pair
    // side reads the pa-partitioned cache — the pair shuffle is paid
    // once per session, never per consumer. The supports side is the
    // basketPerPart memo, already hash-partitioned on pk (= pa) by its
    // own aggregate at the same partition count, so it needs no
    // exchange either
    assertCachedSideUnshuffled("q_basket_lift", "lineitem", "pa", "n_ab",
      otherShuffles = 0)
  }

  test("after clearCache + warmPersisted (the bench's pass boundary) the " +
    "cached sides still need no exchange") {
    assertCachedSideUnshuffled("q_corpus_report", "documents", "doc_id",
      "canonical", otherShuffles = 1, rewarm = true)
    assertCachedSideUnshuffled("q_basket_lift", "lineitem", "pa", "n_ab",
      otherShuffles = 0, rewarm = true)
  }

  test("q_dedup_substring runs the explode kernel once (keyed window, no join-back)") {
    // VERDICT r4 asked for an A/B of this query's count shape; the
    // interleaved triage (BASELINE.md r5, see the QueryDef scaladoc) kept
    // the keyed-window count: one explode pass, one shuffle. The
    // join-back variants re-run the explode kernel (2 Generate nodes)
    // or add a 10M-entry pre-aggregation, and both lost. Pin the
    // winning shape's load-bearing property: exactly ONE Generate over
    // the corpus, a PARTITIONED window (never a global one), no
    // nested-loop anywhere.
    val p = plan("q_dedup_substring")
    assert("\\bGenerate explode".r.findAllIn(p).size === 1, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_dsir_weight broadcasts the unigram table; BNLJ only for the 1-row constants") {
    val p = plan("q_dsir_weight")
    // the |vocab|-row smoothed ratio table reaches the token stream as a
    // broadcast equi join — the exploded corpus never shuffles raw text
    assert(p.contains("BroadcastHashJoin"), p)
    // the only nested-loop join is the (N_t, N_a, |V|) singleton cross —
    // a by-construction 1-row broadcast, same pattern as q_vec_quantize
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_token_entropy reuses the doc_id partitioning — no pair blowup, equi join-back") {
    val p = plan("q_token_entropy")
    // the per-doc total joins back on doc_id as a hash/merge equi join
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("doc_id")), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // both (doc,word) aggregates group under the existing doc_id hash
    // partitioning (HashPartitioning(doc_id) satisfies the clustered
    // distribution of a (doc_id, word) groupBy), so the only exchanges
    // are the two spread repartitions + the presentation sort — an
    // extra shuffle here would mean the subset-key reuse broke
    assert("\\bExchange\\b".r.findAllIn(p).size <= 3, p)
  }

  test("q_bpe_pairs: top-50 plans TakeOrderedAndProject; pair agg is " +
    "two-phase") {
    val p = plan("q_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_") || p.contains("Partial"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("q_bigram_logprob broadcasts the bigram model; BNLJ only for " +
    "the 1-row |V| constant") {
    val p = plan("q_bigram_logprob")
    // scoring join on (w1, w2) is a broadcast hash join
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("w1") &&
        l.contains("w2")), p)
    // the only nested-loop is the by-construction-singleton constant
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_source_overlap: corpus explodes once; all pair work joins " +
    "broadcast on the profile table") {
    val p = plan("q_source_overlap")
    // every join in the plan is a broadcast hash join (profile-table
    // sized); the corpus-side Generate feeds only the cached profile
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_doc_chunks and q_redact stay narrow — no join, no mid-plan " +
    "exchange beyond the presentation sort") {
    Seq("q_doc_chunks", "q_redact", "q_blocklist_filter").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: $p")
      // one range exchange for the final ORDER BY, nothing else
      assert("\\bExchange\\b".r.findAllIn(p).size <= 1, s"$q: $p")
    }
  }

  test("q_vec_pq: zero shuffle of the store — singleton codebook " +
    "broadcast, narrow assignment") {
    val p = plan("q_vec_pq")
    // the only BNLJ is the 1-row collected codebook; no SMJ/shuffle join
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p)
    // exchanges: the spread fan-out, the 8-row seed-collect aggregate
    // (single-partition, store-independent), and the presentation
    // sort — a fourth would mean assignment started shuffling the store
    assert("\\bExchange\\b".r.findAllIn(p).size <= 3, p)
  }

  test("q_pq_adc scores from codes behind broadcasts — the store never " +
    "shuffle-joins; top-k is WindowGroupLimit") {
    val p = plan("q_pq_adc")
    // three BNLJs only, every build side tiny by construction: the
    // 1-row codebook under codes, the same 1-row codebook under the
    // query LUTs, and the 10-row LUT fan-out onto the code scan
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 3, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p)
    // rk <= 10 must collapse to per-partition group limits before the
    // qid exchange — a global sort of the scored fan-out dies at scale
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_late_reconcile prunes the recompute to affected-day partitions") {
    val p = plan("q_late_reconcile")
    // the affected-day set is broadcast into a semi join (the partition
    // prune) and an anti join (the untouched passthrough) — a plan that
    // recomputed every day would have neither
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_lateral decorrelates to a ranked join — no per-row re-execution") {
    val p = plan("q_lateral")
    // the correlated ORDER BY + LIMIT inner table must become a
    // per-key window top-k feeding an equi join: a plan that kept the
    // lateral as a nested-loop re-execution would show neither
    assert(p.contains("WindowGroupLimit") || p.contains("row_number"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("runtime bloom filter from a selective dim prunes the fact scan") {
    // Catalyst's InjectRuntimeFilter: when a shuffle join's small side
    // carries a selective predicate, a bloom filter built from its join
    // keys is pushed into the big side's scan stage — at 100 TB this
    // drops most fact rows BEFORE the shuffle. Local fixtures are far
    // under the 10 GiB application-side default, so lower the threshold
    // to observe the shape; production keeps the default and gets this
    // for free on any genuinely large scan.
    import spark.implicits._
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val o = spark.read.parquet(s"$sf/orders.parquet")
        .filter($"o_orderstatus" === "F")
      val j = li.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").count()
      val p = j.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("bloom"), p.take(4000))
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q_tpch_q3: date predicates reach the scans, customer broadcasts, " +
    "top-10 is TakeOrderedAndProject") {
    val p = plan("q_tpch_q3")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate") ||
      p.contains("GreaterThan(l_shipdate"), p.take(4000))
    assert(p.contains("LessThan(o_orderdate"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
  }

  test("q_tpch_q5: dims broadcast; only the fact tables shuffle") {
    val p = plan("q_tpch_q5")
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    // orders' date range is pushed to its scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p.take(4000))
  }

  test("q_cdc_merge: ONE keyed shuffle serves both window passes") {
    val p = plan("q_cdc_merge")
    assert(p.contains("Window"), p.take(4000))
    // both rank and count ride the same user_id hash partitioning: no
    // second exchange between the two Window operators
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"$exchanges keyed exchanges\n${p.take(4000)}")
  }

  test("q_ivfpq: no cartesian product — codebook/probes/LUTs broadcast") {
    val p = plan("q_ivfpq")
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(4000))
  }

  test("q_tpch_q10: returnflag + quarter predicates reach both fact scans; " +
    "nation broadcasts; top-20 is TakeOrderedAndProject") {
    val p = plan("q_tpch_q10")
    assert(p.contains("EqualTo(l_returnflag,R)"), p.take(4000))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
  }

  test("q_skyline: local pass is bucket-partitioned (parallel windows); " +
    "only the pruned survivor union hits the single-partition window") {
    val p = plan("q_skyline")
    // the bucketed local skyline shows a hash-partitioned window spec
    assert(p.contains("Window"), p.take(4000))
    assert("Exchange hashpartitioning".r.findAllIn(p).nonEmpty, p.take(4000))
    // the global pass exists (SinglePartition exchange) but AFTER pruning
    assert(p.contains("Exchange SinglePartition") ||
      p.contains("singlepartitioning"), p.take(4000))
  }

  test("q_markov_transition: per-prev totals broadcast back onto the " +
    "pair counts — no second full-data shuffle") {
    val p = plan("q_markov_transition")
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(p.contains("Window") || p.contains("lag"), p.take(4000))
  }

  test("q_ewma: daily rollup is two-phase hash agg; the lag window rides " +
    "the aggregate, not the raw events") {
    val p = plan("q_ewma")
    assert(p.contains("HashAggregate"), p.take(4000))
    assert(p.contains("partial_") || p.contains("Partial"), p.take(4000))
    assert(p.contains("Window"), p.take(4000))
  }

  test("q_triangle_count: wedge and closure joins are all equi (SortMerge/" +
    "ShuffledHash) — no cartesian pair enumeration") {
    val p = plan("q_triangle_count")
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("q_filter_funnel is one pass: no join, single two-phase aggregate " +
    "over narrow per-doc flags") {
    val p = plan("q_filter_funnel")
    assert(!p.contains("Join"), p.take(4000))
    assert(p.contains("HashAggregate"), p.take(4000))
  }

  test("q_winsorized_mean: bounds broadcast back; no buffering percentile " +
    "aggregate anywhere") {
    val p = plan("q_winsorized_mean")
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("percentile"), p.take(4000))
  }

  test("q_sample_weighted and q_sim_report: per-group top-k collapses to " +
    "WindowGroupLimit") {
    assert(plan("q_sample_weighted").contains("WindowGroupLimit"))
    assert(plan("q_sim_report").contains("WindowGroupLimit"))
  }

  test("q_inverted_index: posting-list head is rank-bounded BEFORE " +
    "aggregation (WindowGroupLimit, no collect_set over the full list)") {
    val p = plan("q_inverted_index")
    // the head must be produced under a per-word rank limit: per-
    // partition state is k rows per word, never a stopword's whole
    // posting list in one aggregation buffer (VERDICT r9 §wrong #1)
    assert(p.contains("WindowGroupLimit"), p.take(4000))
    assert(!p.contains("collect_set"), p.take(4000))
  }

  test("q_tpch_q4: EXISTS decorrelates to a left-semi join (no row " +
    "multiplication); quarter predicate pushed to the orders scan") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"), p.take(4000))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p.take(4000))
  }

  test("q_tpch_q12/q14: ship-date predicates pushed; part broadcasts in q14") {
    val p12 = plan("q_tpch_q12")
    assert(p12.contains("GreaterThanOrEqual(l_shipdate"), p12.take(4000))
    val p14 = plan("q_tpch_q14")
    assert(p14.contains("GreaterThanOrEqual(l_shipdate"), p14.take(4000))
    assert(p14.contains("BroadcastHashJoin"), p14.take(4000))
  }

  test("q_knn_classify: query side broadcasts; both top-k and vote-argmax " +
    "collapse to WindowGroupLimit; no cartesian product") {
    val p = plan("q_knn_classify")
    assert(p.contains("WindowGroupLimit"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
  }

  test("q_tpch_q6: all three predicate families sit on the scan " +
    "(toString elides the full PushedFilters list, so assert the Filter " +
    "node and the pushed prefix)") {
    val p = plan("q_tpch_q6")
    assert(p.contains(
      "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
        "IsNotNull(l_quantity)"), p.take(4000))
    assert(p.contains(">= 0.05)") && p.contains("<= 0.07)"), p.take(4000))
    assert(p.contains("< 24.0)"), p.take(4000))
  }

  test("q_tpch_q19: common quantity ceiling pushed to the fact scan; " +
    "part broadcasts; disjuncts evaluate post-join without a cartesian") {
    val p = plan("q_tpch_q19")
    assert(p.contains("LessThanOrEqual(l_quantity"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q_centroid_classify: model is one broadcast row; the store side " +
    "never shuffle-joins") {
    val p = plan("q_centroid_classify")
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
  }

  test("q_bloom_join: might_contain prunes the fact scan BEFORE the " +
    "exact semi join (the explicit runtime-filter reduction)") {
    val p = plan("q_bloom_join")
    assert(p.contains("might_contain"), p.take(4000))
    assert(p.contains("LeftSemi"), p.take(4000))
    // the bloom probe must sit in the lineitem Filter, i.e. appear
    // earlier in the plan string than the semi join that consumes it
    assert(p.indexOf("might_contain") > p.indexOf("LeftSemi"),
      "bloom filter should be below (after in print order) the semi join\n" +
        p.take(4000))
  }

  test("q_gini / q_chi_square / q_autocorr stay integer-exact: no " +
    "double-typed aggregation feeds the emitted statistic") {
    // the contract is structural: moments are decimal sums (order-free)
    val pg = plan("q_gini")
    assert(pg.contains("sum(cast(") || pg.contains("decimal(38,0)"), pg.take(3000))
    val pa = plan("q_autocorr")
    assert(pa.contains("decimal(38,0)"), pa.take(3000))
  }

  test("q_window_count_distinct avoids per-row state: two hash " +
    "aggregates + a window over aggregated days only") {
    val p = plan("q_window_count_distinct")
    assert(!p.contains("collect_set"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
  }

  test("q_bucketed_join: bucket co-location eliminates BOTH join-side " +
    "shuffles (SortMergeJoin directly over bucketed scans)") {
    val p = plan("q_bucketed_join")
    assert(p.contains("SortMergeJoin"), p.take(4000))
    assert(!p.contains("hashpartitioning(l_orderkey") &&
      !p.contains("hashpartitioning(o_orderkey"),
      "join keys must NOT be shuffled — bucketed layout provides the " +
        "partitioning\n" + p.take(4000))
  }

  test("q_join_salted: the fact join runs on (key, salt) and the hot-set " +
    "membership probes are broadcast") {
    val p = plan("q_join_salted")
    // the main join's shuffle carries the salt next to the key — the
    // hot key's rows spread over R reduce tasks instead of one straggler
    assert(p.contains("salt"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("q_tpch_q1: every double ROUND in the optimized plan is the native " +
    "kernel, none is Spark's BigDecimal Round") {
    import org.apache.spark.sql.catalyst.expressions.Round
    val opt = SparkEntry.all("q_tpch_q1").fn(spark, sf).queryExecution.optimizedPlan
    val exprs = opt.flatMap(_.expressions)
    val builtin = exprs.flatMap(_.collect {
      case r: Round if r.child.dataType == org.apache.spark.sql.types.DoubleType => r
    })
    assert(builtin.isEmpty, opt.toString.take(4000))
    // the five unit sums each round one double per lineitem row
    assert(exprs.flatMap(_.collect { case r: graft.functions.RoundDouble => r })
      .size === 5,
      opt.toString.take(4000))
  }
}
