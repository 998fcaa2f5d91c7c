package graft

import org.apache.spark.sql.functions._
import graft.ops.VectorOps

/** Per-operator unit tests on tiny literal data with hand-computed
  * answers, plus algebraic properties on the fixtures (SURVEY.md §5.2.2-3). */
class OperatorSpec extends SparkSpec {

  test("semi ∪ anti partitions the left input exactly") {
    import spark.implicits._
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet").filter($"o_totalprice" > 450000)
    val semi = c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
    val anti = c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
    assert(semi.count() + anti.count() === c.count())
    assert(semi.join(anti, Seq("c_custkey"), "inner").count() === 0)
  }

  test("as-of join picks the latest row at-or-before, ties broken by key desc") {
    import spark.implicits._
    val e = Seq((1L, 100L, "2024-01-10"), (2L, 100L, "2024-01-01"))
      .toDF("event_id", "uid", "d").withColumn("d", to_date($"d"))
    val o = Seq((10L, 100L, "2024-01-05"), (11L, 100L, "2024-01-05"),
      (12L, 100L, "2024-01-09"), (13L, 100L, "2024-02-01"))
      .toDF("ok", "uid2", "od").withColumn("od", to_date($"od"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_id").orderBy($"od".desc, $"ok".desc)
    val res = e.join(o, $"uid" === $"uid2" && $"od" <= $"d", "left")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"event_id", $"ok").as[(Long, Option[Long])].collect().toMap
    assert(res(1L) === Some(12L)) // latest at-or-before 01-10
    assert(res(2L) === None)      // nothing at-or-before 01-01
  }

  test("filter(p && q) ≡ filter(p).filter(q)") {
    import spark.implicits._
    val l = spark.read.parquet(s"$sf/lineitem.parquet")
    val a = l.filter($"l_quantity" > 20 && $"l_discount" < 0.05).count()
    val b = l.filter($"l_quantity" > 20).filter($"l_discount" < 0.05).count()
    assert(a === b)
  }

  test("count(unionAll(a,b)) = count(a) + count(b)") {
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val a = c.filter(col("c_custkey") % 3 === 0)
    val b = c.filter(col("c_custkey") % 2 === 0)
    assert(a.unionByName(b).count() === a.count() + b.count())
  }

  test("exact dedup is idempotent and keeps lowest doc_id") {
    import spark.implicits._
    val d = Seq((3L, "x x"), (1L, "x x"), (2L, "y")).toDF("doc_id", "text")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"text").orderBy($"doc_id")
    val once = d.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
    val twice = once.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
    assert(once.count() === 2)
    assert(once.filter($"text" === "x x").select($"doc_id").as[Long].head() === 1L)
    assert(twice.collect().toSet === once.collect().toSet)
  }

  test("cosine(v, v) ≈ 1 via the VectorOps expressions") {
    import spark.implicits._
    val df = Seq((1L, Array(0.5f, -0.25f, 2.0f))).toDF("id", "embedding")
      .select($"id", VectorOps.vcol($"embedding").as("v"))
      .select((HofFolds.dot($"v", $"v") /
        (HofFolds.l2($"v") * HofFolds.l2($"v"))).as("cos"))
    assert(math.abs(df.as[Double].head() - 1.0) < 1e-12)
  }

  test("window rank over unique order key is dense and gap-free") {
    import spark.implicits._
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderstatus").orderBy($"o_orderkey")
    val r = o.withColumn("rn", row_number().over(w))
      .withColumn("rk", rank().over(w))
      .filter($"rn" =!= $"rk")
    assert(r.count() === 0) // unique key ⇒ row_number == rank
  }

  test("rollup row count = groups + subtotals + grand total") {
    import spark.implicits._
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val full = o.groupBy($"o_orderstatus", $"o_orderpriority").count().count()
    val sub = o.groupBy($"o_orderstatus").count().count()
    val roll = o.rollup($"o_orderstatus", $"o_orderpriority").count().count()
    assert(roll === full + sub + 1)
  }

  test("cached and uncached dedup pipelines return identical rows") {
    val cached = SparkEntry.all("q_dedup_near").fn(spark, sf).collect()
    spark.catalog.clearCache()
    val fresh = SparkEntry.all("q_dedup_near").fn(spark, sf).collect()
    assert(fresh.toSeq === cached.toSeq)
  }

  test("sliding window assigns boundary events to exactly size/slide windows") {
    import spark.implicits._
    // 6h window / 3h slide: every event belongs to exactly 2 windows,
    // including events exactly on a window boundary
    val df = Seq("2024-01-01 00:00:00", "2024-01-01 03:00:00", "2024-01-01 04:30:00")
      .toDF("ts").withColumn("ts", to_timestamp($"ts"))
    val counts = df
      .select($"ts", window($"ts", "6 hours", "3 hours").as("w"))
      .groupBy($"ts").count().select($"count").as[Long].collect()
    assert(counts.forall(_ === 2L))
  }

  test("decimal-sum mean is partition-order independent") {
    import spark.implicits._
    val vals = (1 to 1000).map(i => ("g", i * 0.730000001))
    val one = vals.toDF("k", "v").repartition(1)
    val many = vals.toDF("k", "v").repartition(13)
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      df.groupBy($"k").agg(
        (sum($"v".cast("decimal(28,10)")).cast("double") / count(lit(1))).as("m"))
        .select($"m").as[Double].head()
    assert(mean(one) === mean(many)) // bit-identical, not approx
  }

  test("kmeans step: every vector lands on its true argmin centroid " +
    "and one Lloyd step does not increase total SSE") {
    import spark.implicits._
    val emb = graft.util.Tables.embeddings(spark, sf)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val seeds = emb.filter { case (k, _) => k < 8 }.toSeq.sortBy(_._1).map(_._2)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))
    def assign(cents: Seq[Array[Double]]): Map[Long, Int] =
      emb.map { case (id, v) =>
        id -> cents.zipWithIndex.minBy { case (c, i) => (d2(v, c), i) }._2
      }.toMap
    val a0 = assign(seeds)
    // engine's recomputed centroids imply the same assignment: per-cluster
    // counts (constant across pos) must match the reference assignment's
    val rows = SparkEntry.all("q_kmeans_step").fn(spark, sf)
      .filter($"pos" === 1).select($"cluster", $"n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expCounts = a0.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(rows.values.sum === emb.size.toLong)
    rows.foreach { case (cid, n) => assert(n === expCounts(cid.toInt)) }
    // Lloyd monotonicity: SSE under the recomputed means ≤ SSE under seeds
    val newCents = a0.groupBy(_._2).view.mapValues { m =>
      val vs = m.keys.map(emb).toSeq
      Array.tabulate(64)(i => vs.map(_(i)).sum / vs.size)
    }.toMap
    def sse(cents: Map[Int, Array[Double]], asg: Map[Long, Int]): Double =
      asg.map { case (id, c) => d2(emb(id), cents(c)) }.sum
    val seedCents = seeds.zipWithIndex.map(_.swap).toMap
    assert(sse(newCents, a0) <= sse(seedCents, a0) + 1e-9)
  }

  test("inverted index: df <= cf, cf sums to the token count, " +
    "posting heads are sorted valid doc ids") {
    import spark.implicits._
    val idx = SparkEntry.all("q_inverted_index").fn(spark, sf).collect()
    val totalTokens = graft.util.Tables.documents(spark, sf)
      .select(size(split($"text", " ")).cast("long").as("n"))
      .agg(sum($"n")).as[Long].head()
    assert(idx.map(_.getLong(1)).sum === totalTokens) // cf partitions tokens
    val nDocs = graft.util.Tables.documents(spark, sf).count()
    idx.foreach { r =>
      val (cf, df, head) = (r.getLong(1), r.getLong(2), r.getString(3))
      assert(df <= cf && df <= nDocs)
      val ids = head.split(",").map(_.toLong)
      assert(ids.length <= 10 && ids.length.toLong <= df)
      assert(ids.sameElements(ids.sorted))
      assert(ids.forall(id => id >= 0 && id < nDocs))
    }
  }

  test("collocation PMI recomputes from its own emitted counts") {
    val rows = SparkEntry.all("q_collocation_pmi").fn(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    import spark.implicits._
    val docs = graft.util.Tables.documents(spark, sf)
      .select(split($"text", " ").as("w"))
    val nWords = docs.select(size($"w").cast("long")).as[Long].collect().sum
    val nBigrams = docs.select((size($"w") - 1).cast("long")).as[Long]
      .collect().map(math.max(0L, _)).sum
    rows.foreach { r =>
      val (cXy, cX, cY) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(cXy >= 5 && cXy <= math.min(cX, cY))
      val pmi = math.log(cXy * 1.0 * nWords * nWords / (nBigrams * 1.0 * cX * cY))
      assert(math.abs(r.getDouble(5) - pmi) < 1e-3)
    }
  }

  test("cluster stats histogram reconciles with the canonical assignment") {
    import spark.implicits._
    val stats = SparkEntry.all("q_cluster_stats").fn(spark, sf).collect()
    val nDocs = graft.util.Tables.documents(spark, sf).count()
    assert(stats.map(_.getLong(2)).sum === nDocs) // n_docs partitions corpus
    stats.foreach { r =>
      val (sz, nc, nd, dropped) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nd === sz * nc && dropped === (sz - 1) * nc)
    }
    // recompute the histogram from q_dedup_canonical's labels
    val fromLabels = SparkEntry.all("q_dedup_canonical").fn(spark, sf)
      .groupBy($"canonical").count()
      .groupBy($"count").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.map(r => r.getLong(0) -> r.getLong(1)).toMap === fromLabels)
  }

  test("doc logprob: scores are negative log-likelihood means, " +
    "token counts match, and a hand-computed doc agrees") {
    import spark.implicits._
    val rows = SparkEntry.all("q_doc_logprob").fn(spark, sf).collect()
    val docs = graft.util.Tables.documents(spark, sf)
      .select($"doc_id", split($"text", " ").as("w")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(rows.length === docs.size)
    val counts = docs.values.flatten.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val n = counts.values.sum.toDouble
    rows.foreach { r =>
      val (id, nTok, lp) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(nTok === docs(id).size.toLong)
      assert(lp < 0.0)
      val exp = docs(id).map(w =>
        BigDecimal(math.log(counts(w) / n))
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble /
        docs(id).size
      assert(math.abs(lp - exp) < 2e-4, s"doc $id: $lp vs $exp")
    }
  }

  test("token entropy: type/token counts match, H ∈ [0, ln n_types], " +
    "and a hand-computed distribution agrees") {
    import spark.implicits._
    val rows = SparkEntry.all("q_token_entropy").fn(spark, sf).collect()
    val docs = graft.util.Tables.documents(spark, sf)
      .select($"doc_id", split($"text", " ").as("w")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(rows.length === docs.size)
    rows.foreach { r =>
      val (id, nTok, nTyp, h) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val w = docs(id)
      assert(nTok === w.size.toLong)
      assert(nTyp === w.distinct.size.toLong)
      // uniform distribution maximizes H at ln(n_types); 1e-4 slack for
      // the 4-decimal half-up round
      assert(h >= 0.0 && h <= math.log(nTyp.toDouble) + 1e-4)
      val counts = w.groupBy(identity).view.mapValues(_.size).toMap
      val exp = -counts.values.map { c =>
        val p = c.toDouble / nTok
        BigDecimal(p * math.log(p))
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      assert(math.abs(h - exp) < 2e-4, s"doc $id: $h vs $exp")
    }
  }

  test("dsir weight: token counts match and a hand-computed smoothed " +
    "log-ratio sum agrees per doc") {
    import spark.implicits._
    val rows = SparkEntry.all("q_dsir_weight").fn(spark, sf).collect()
    val docs = graft.util.Tables.documents(spark, sf)
      .select($"doc_id", $"lang", split($"text", " ").as("w")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2)))
    val ca = docs.flatMap(_._3).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val ct = docs.filter(_._2 == "en").flatMap(_._3).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val na = ca.values.sum
    val nt = ct.values.sum
    val v = ca.size.toLong
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(rows.length === docs.length)
    docs.foreach { case (id, _, w) =>
      val r = byId(id)
      assert(r.getLong(1) === w.size.toLong)
      val exp = w.map { word =>
        val lnr = math.log(
          ((ct.getOrElse(word, 0L) + 1).toDouble * (na + v).toDouble) /
            ((ca(word) + 1).toDouble * (nt + v).toDouble))
        BigDecimal(lnr).setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      assert(math.abs(r.getDouble(2) - exp.toDouble) < 2e-4, s"doc $id")
    }
  }

  test("corpus report reconciles with cluster stats and the corpus") {
    import spark.implicits._
    val rep = SparkEntry.all("q_corpus_report").fn(spark, sf).collect()
    val nDocs = graft.util.Tables.documents(spark, sf).count()
    assert(rep.map(_.getLong(2)).sum === nDocs)
    val dropped = SparkEntry.all("q_cluster_stats").fn(spark, sf)
      .agg(sum($"n_dropped")).as[Long].head()
    assert(rep.map(_.getLong(4)).sum === dropped) // n_dup total
    rep.foreach { r =>
      assert(r.getLong(5) === r.getLong(4) * 10000 / r.getLong(2)) // dup_bp
      assert(r.getLong(6) === r.getLong(3) * 100 / r.getLong(2))   // tok/doc
    }
  }

  test("pq assignment: seeds code to themselves with zero error; a " +
    "non-seed row matches the driver-side argmin") {
    import spark.implicits._
    // code is a packed BIGINT: Σ_m cid_m · 8^m (3 bits per subspace)
    val rows = SparkEntry.all("q_vec_pq").fn(spark, sf).collect()
      .map(r => (r.getLong(0),
        (0 until 8).map(m => (r.getLong(1) >> (3 * m)) & 7L),
        r.getDouble(2)))
    val emb = graft.util.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    assert(rows.length === emb.size)
    rows.foreach { case (id, codes, err) =>
      assert(codes.length === 8)
      assert(codes.forall(c => c >= 0 && c < 8))
      assert(err >= 0.0)
      if (id < 8) { assert(codes.forall(_ === id)); assert(err === 0.0) }
    }
    // recompute one non-seed row driver-side
    val (id, codes, err) = rows.find(_._1 >= 8).get
    val v = emb(id)
    val expect = (0 until 8).map { m =>
      val sub = v.slice(m * 8, m * 8 + 8)
      (0 until 8).map { k =>
        val c = emb(k.toLong).slice(m * 8, m * 8 + 8)
        val d2 = sub.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
        (d2, k.toLong)
      }.min
    }
    assert(codes === expect.map(_._2))
    val expErr = expect.map(e =>
      BigDecimal(e._1).setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
    assert(math.abs(err - expErr.toDouble) < 2e-4, s"$err vs $expErr")
  }

  test("ADC top-k matches a driver-side replay from codes + LUT") {
    import spark.implicits._
    val got = SparkEntry.all("q_pq_adc").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val emb = graft.util.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def subD2(a: Array[Double], b: Array[Double], m: Int): Double =
      (0 until 8).map(i => { val d = a(m * 8 + i) - b(m * 8 + i); d * d }).sum
    // codes per vector: argmin subspace L2², cid tie-break
    val codes = emb.map { case (id, v) =>
      id -> (0 until 8).map(m =>
        (0 until 8).map(k => (subD2(v, emb(k.toLong), m), k)).min._2).toArray
    }
    val expect = (0L until 10L).flatMap { qid =>
      val qv = emb(qid)
      val lut = Array.tabulate(8, 8)((m, k) => subD2(qv, emb(k.toLong), m))
      val scored = codes.toSeq.filter(_._1 != qid).map { case (nid, cs) =>
        val d2 = (0 until 8)
          .map(m => BigDecimal(lut(m)(cs(m)))
            .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
        (nid, d2)
      }.sortBy { case (nid, d2) => (d2, nid) }.take(10)
      scored.zipWithIndex.map { case ((nid, d2), i) =>
        (qid, nid,
          d2.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
          (i + 1).toLong)
      }
    }
    assert(got.toSeq === expect)
  }

  test("bigram logprob matches a driver-side smoothed fold") {
    import spark.implicits._
    val docs = graft.util.Tables.documents(spark, sf)
      .select($"doc_id", split($"text", " ").as("w")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val bigrams = docs.values.toSeq.filter(_.size >= 2)
      .flatMap(w => w.sliding(2).map(p => (p(0), p(1))))
    val cb = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cp = bigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val v = docs.values.flatten.toSet.size.toLong
    val rows = SparkEntry.all("q_bigram_logprob").fn(spark, sf).collect()
    assert(rows.length === docs.count(_._2.size >= 2))
    rows.foreach { r =>
      val w = docs(r.getLong(0))
      assert(r.getLong(1) === (w.size - 1).toLong)
      val exp = w.sliding(2).map { p =>
        val t = math.log((cb((p(0), p(1))) + 1).toDouble / (cp(p(0)) + v))
        BigDecimal(t).setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      assert(r.getDouble(2) < 0.0)
      assert(math.abs(r.getDouble(2) - exp) < 2e-4,
        s"doc ${r.getLong(0)}: ${r.getDouble(2)} vs $exp")
    }
  }

  test("bpe pairs match a driver-side weighted fold over word types") {
    import spark.implicits._
    val words = graft.util.Tables.documents(spark, sf)
      .select(split($"text", " ").as("w")).collect()
      .flatMap(_.getSeq[String](0))
    val wf = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val agg = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
    wf.foreach { case (w, f) =>
      if (w.length >= 2) w.sliding(2).foreach { p =>
        val k = (p.substring(0, 1), p.substring(1, 2))
        val (c, n) = agg.getOrElse(k, (0L, 0L))
        agg(k) = (c + f, n + 1)
      }
    }
    val exp = agg.toSeq
      .map { case ((c1, c2), (pc, np)) => (c1, c2, pc, np) }
      .sortBy { case (c1, c2, pc, _) => (-pc, c1, c2) }.take(50)
    val got = SparkEntry.all("q_bpe_pairs").fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === exp)
  }

  test("bpe merge: argmax pair applied greedily, pairs recounted over merged tokens") {
    import spark.implicits._
    val words = graft.util.Tables.documents(spark, sf)
      .select(split($"text", " ").as("w")).collect()
      .flatMap(_.getSeq[String](0))
    val wf = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // argmax pair under q_bpe_pairs' exact ordering (overlapping counts)
    val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
    wf.foreach { case (w, f) =>
      if (w.length >= 2) w.sliding(2).foreach { p =>
        val k = (p.substring(0, 1), p.substring(1, 2))
        pairCounts(k) = pairCounts.getOrElse(k, 0L) + f
      }
    }
    val (bc1, bc2) = pairCounts.toSeq
      .sortBy { case ((c1, c2), pc) => (-pc, c1, c2) }.head._1
    val pair = bc1 + bc2
    // greedy left-to-right merge (String.replace = SQL replace semantics),
    // then recount pairs over the merged token sequences
    val agg = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
    wf.foreach { case (w, f) =>
      val mw = w.replace(pair, "")
      if (mw.length >= 2) mw.sliding(2).foreach { p =>
        val k = (p.substring(0, 1), p.substring(1, 2))
        val (c, n) = agg.getOrElse(k, (0L, 0L))
        agg(k) = (c + f, n + 1)
      }
    }
    def render(t: String) = t.replace("", pair)
    val exp = agg.toSeq
      .map { case ((t1, t2), (pc, np)) => (pair, render(t1), render(t2), pc, np) }
      .sortBy { case (_, t1, t2, pc, _) => (-pc, t1, t2) }.take(20)
    val got = SparkEntry.all("q_bpe_merge").fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === exp)
    // the merged symbol competes as a unit: it shows up in round 2's pairs
    assert(got.exists(r => r._2 == pair || r._3 == pair))
  }

  test("sql udf: Catalyst inlines the functions (no opaque call boundary) " +
    "and per-status shares telescope to 10000 bp") {
    val df = SparkEntry.all("q_sql_udf").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.toLowerCase.contains("pythonudf"),
      plan)
    val rows = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // floor division loses < 1 bp per tier: per-status sum in [9998, 10000]
    rows.groupBy(_._1).foreach { case (_, g) =>
      val tot = g.map(_._4).sum
      assert(tot <= 10000 && tot >= 10000 - g.length,
        s"tier_bp sum $tot over ${g.length} tiers")
    }
    // the UDF-in-grouping-key tiers partition the orders exactly
    val n = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(rows.map(_._3).sum === n)
  }

  test("winnow fingerprint: sketch matches a driver-side robust-winnow " +
    "recompute (rightmost min per window, distinct picks)") {
    import spark.implicits._
    val P = 1000000007L
    def polyHash(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31L + c.toLong) % P)
    val docs = graft.util.Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val exp = docs.map { case (id, text) =>
      val w = text.split(" ", -1)
      val m = math.max(w.length - 2, 0)
      val hs = (0 until m).map(i => polyHash(w.slice(i, i + 3).mkString(" ")))
      val nWin = math.max(m - 3, 0)
      // robust winnowing, W=4: rightmost minimum per window, dedup picks
      val picks = (0 until nWin).map { j =>
        val win = (j until j + 4).map(p => (hs(p), p))
        win.minBy { case (h, p) => (h, -p) } // min hash, rightmost
      }.distinct
      val fold = if (picks.isEmpty) 0L else picks.map(_._1).sum % P
      val dens = if (nWin > 0) picks.size.toLong * 10000 / nWin else 0L
      (id, m.toLong, nWin.toLong, picks.size.toLong, dens, fold)
    }.sortBy(_._1).toSeq
    val got = SparkEntry.all("q_winnow_fingerprint").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === exp)
    // the winnow guarantee bites: density lands in (0, 10000] and below
    // the full stream for real docs, near the 2/(W+1)=4000bp expectation
    val dens = got.filter(_._3 > 0).map(_._5)
    assert(dens.nonEmpty && dens.forall(d => d > 0 && d <= 10000))
    assert(dens.count(d => d >= 2000 && d <= 8000) * 10 >= dens.size * 9)
  }

  test("winnow overlap: pairs match a driver recompute over df-capped " +
    "sketches; every clone pair is found (the winnow guarantee)") {
    import spark.implicits._
    val P = 1000000007L
    def polyHash(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31L + c.toLong) % P)
    val docs = graft.util.Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sketch: Map[Long, Set[Long]] = docs.map { case (id, text) =>
      val w = text.split(" ", -1)
      val m = math.max(w.length - 2, 0)
      val hs = (0 until m).map(i => polyHash(w.slice(i, i + 3).mkString(" ")))
      val picks = (0 until math.max(m - 3, 0)).map { j =>
        (j until j + 4).map(p => (hs(p), p)).minBy { case (h, p) => (h, -p) }
      }
      (id, picks.map(_._1).toSet)
    }.toMap
    val dfc = sketch.toSeq.flatMap { case (id, s) => s.map((_, id)) }
      .groupBy(_._1).filter(_._2.size <= 10).keySet
    val capped = sketch.view.mapValues(_.intersect(dfc)).toMap
    val ids = capped.keys.toSeq.sorted
    val exp = (for {
      (da, i) <- ids.zipWithIndex; db <- ids.drop(i + 1)
      shared = capped(da).intersect(capped(db)).size if shared >= 2
    } yield (da, db, shared.toLong,
      shared.toLong * 10000 / math.min(capped(da).size, capped(db).size)))
      .sortBy { case (a, b, n, _) => (-n, a, b) }
    val got = SparkEntry.all("q_winnow_overlap").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === exp)
    // the guarantee bites: every exact-duplicate text pair shares a full
    // sketch (identical docs ⇒ identical picks ⇒ containment 100%)
    val byText = docs.groupBy(_._2).values.filter(_.length > 1)
    val clonePairs: Set[(Long, Long)] = byText.toSeq.flatMap { g =>
      val is: Seq[Long] = g.map(_._1).toSeq.sorted
      for ((a, i) <- is.zipWithIndex; b <- is.drop(i + 1)) yield (a, b)
    }.toSet.filter { case (a, _) => capped(a).size >= 2 } // survives df cap
    val found = got.map(p => (p._1, p._2)).toSet
    val full = got.filter(p => clonePairs((p._1, p._2)))
    // vacuous when the fixture has no exact clones (sf0.001 does not);
    // the recompute equality above is the load-bearing assertion
    assert(clonePairs.subsetOf(found))
    assert(full.forall(_._4 == 10000L))
    // and the detector actually fires on this corpus's near-dups
    assert(got.nonEmpty && got.forall(p => p._4 > 0 && p._4 <= 10000))
  }

  test("blocklist filter: hits reconcile with a driver-side count and " +
    "keep ⟺ zero hits") {
    import spark.implicits._
    val block = Set("slow", "dup", "big")
    val docs = graft.util.Tables.documents(spark, sf)
      .select($"doc_id", split($"text", " ").as("w")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val rows = SparkEntry.all("q_blocklist_filter").fn(spark, sf).collect()
    assert(rows.length === docs.size)
    rows.foreach { r =>
      val w = docs(r.getLong(0))
      assert(r.getLong(1) === w.count(block).toLong)
      assert(r.getLong(2) === w.distinct.count(block).toLong)
      assert((r.getLong(3) === 1L) === (r.getLong(1) === 0L))
    }
  }

  test("redaction masks exactly the denylisted tokens and preserves " +
    "token count") {
    import spark.implicits._
    val deny = Set("customer", "value")
    val docs = graft.util.Tables.documents(spark, sf)
      .select($"doc_id", split($"text", " ").as("w")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val rows = SparkEntry.all("q_redact").fn(spark, sf).collect()
    rows.foreach { r =>
      val w = docs(r.getLong(0))
      val out = r.getString(2).split(" ", -1).toSeq
      assert(out.size === w.size)
      assert(r.getLong(1) === w.count(deny).toLong)
      w.zip(out).foreach { case (orig, red) =>
        if (deny(orig)) assert(red === "[MASK]") else assert(red === orig)
      }
    }
  }

  test("chunking covers every token: stride-aligned starts, overlap " +
    "W-S, concatenation reconstructs the doc") {
    import spark.implicits._
    val (winW, strideS) = (32, 24)
    val docs = graft.util.Tables.documents(spark, sf)
      .select($"doc_id", split($"text", " ").as("w")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val byDoc = SparkEntry.all("q_doc_chunks").fn(spark, sf).collect()
      .groupBy(_.getLong(0))
    assert(byDoc.keySet === docs.keySet)
    byDoc.foreach { case (id, chunks) =>
      val w = docs(id)
      val n = w.size
      assert(chunks.length === 1 + (math.max(n - winW, 0) + strideS - 1) / strideS)
      val sorted = chunks.sortBy(_.getLong(1))
      sorted.foreach { c =>
        val ci = c.getLong(1).toInt
        val exp = w.slice(ci * strideS, ci * strideS + winW)
        assert(c.getLong(2) === exp.size.toLong)
        assert(c.getString(3) === exp.mkString(" "))
      }
      // stride-S starts cover all n tokens: last chunk reaches the end
      val last = sorted.last
      assert(last.getLong(1).toInt * strideS + last.getLong(2) >= n)
    }
  }

  test("source overlap: symmetric-pair census, jaccard bounds, and a " +
    "hand-joined pair matches") {
    import spark.implicits._
    val rows = SparkEntry.all("q_source_overlap").fn(spark, sf).collect()
    val sources = graft.util.Tables.documents(spark, sf)
      .select($"source").distinct().count().toInt
    assert(rows.length === sources * (sources - 1) / 2)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 10000)
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 10000)
      // weighted jaccard cannot exceed vocab jaccard's unit bound but
      // both are <= 10000; inter is positive when the pair shares words
      assert(r.getLong(2) >= 0)
    }
    // hand-compute one pair driver-side
    val docs = graft.util.Tables.documents(spark, sf)
      .select($"source", split($"text", " ").as("w")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1))
    val bySource = docs.groupBy(_._1).view
      .mapValues(_.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap)
      .toMap
    val (s1, s2) = (rows.head.getString(0), rows.head.getString(1))
    val (c1, c2) = (bySource(s1), bySource(s2))
    val inter = c1.keySet.intersect(c2.keySet)
    val smin = inter.toSeq.map(k => math.min(c1(k), c2(k))).sum
    val t1 = c1.values.sum; val t2 = c2.values.sum
    assert(rows.head.getLong(2) === inter.size.toLong)
    assert(rows.head.getLong(3) ===
      inter.size.toLong * 10000 / (c1.size + c2.size - inter.size))
    assert(rows.head.getLong(4) === smin * 10000 / (t1 + t2 - smin))
  }

  test("profile: per-column counts are consistent and bounds are ordered") {
    import spark.implicits._
    val nOrders = graft.util.Tables.orders(spark, sf).count()
    val prof = SparkEntry.all("q_profile").fn(spark, sf).collect()
    assert(prof.length === 5)
    prof.foreach { r =>
      assert(r.getLong(1) === nOrders)                  // n
      assert(r.getLong(2) === 0L)                       // n_null
      assert(r.getLong(3) > 0 && r.getLong(3) <= nOrders) // n_distinct
      assert(r.getString(4) <= r.getString(5))          // min_v <= max_v
      assert(r.getLong(6) <= r.getLong(7))              // min_len <= max_len
    }
    val status = prof.find(_.getString(0) == "o_orderstatus").get
    assert(status.getLong(3) <= 3) // O/F/P
  }

  test("cdc merge: latest-wins snapshot matches a driver-side replay; " +
    "tombstoned keys are absent") {
    import spark.implicits._
    val log = graft.util.Tables.events(spark, sf)
      .select($"user_id", $"event_type", $"value",
        $"ts".cast("long").as("tse"), $"event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))
    // replay: latest op per user by (ts, event_id); 'error' = delete
    val expect = log.groupBy(_._1).flatMap { case (uid, ops) =>
      val latest = ops.maxBy(o => (o._4, o._5))
      if (latest._2 == "error") None
      else Some(uid -> (latest._2, latest._3, latest._4, ops.length.toLong))
    }
    val got = SparkEntry.all("q_cdc_merge").fn(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet === expect.keySet)
    expect.foreach { case (uid, e) => assert(got(uid) === e, s"user $uid") }
  }

  test("shard assignment: 16 shards partition the corpus; the hash is " +
    "reproducible driver-side") {
    import spark.implicits._
    val nDocs = graft.util.Tables.documents(spark, sf).count()
    val rows = SparkEntry.all("q_shard_assign").fn(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet.subsetOf((0L until 16L).toSet))
    assert(rows.map(_.getLong(1)).sum === nDocs)
    def shardOf(id: Long): Long = ((id * 2654435761L) % 4294967296L) >> 28
    val sample = graft.util.Tables.documents(spark, sf)
      .select($"doc_id").limit(50).as[Long].collect()
    // every sampled doc's driver-side shard must be a declared shard
    // whose [min_doc, max_doc] range contains it
    val bounds = rows.map(r =>
      r.getLong(0) -> (r.getLong(4), r.getLong(5))).toMap
    sample.foreach { id =>
      val (lo, hi) = bounds(shardOf(id))
      assert(lo <= id && id <= hi, s"doc $id shard ${shardOf(id)}")
    }
  }

  test("lang confusion: cells partition q_lang_id's predictions; " +
    "recall_bp rows are consistent") {
    val preds = SparkEntry.all("q_lang_id").fn(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val expect = preds.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cm = SparkEntry.all("q_lang_confusion").fn(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
    assert(cm.map(_._1).toSet === expect.keySet)
    val rowTotals = expect.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    cm.foreach { case ((lang, pred), (n, bp)) =>
      assert(n === expect((lang, pred)), s"($lang,$pred)")
      assert(bp === n * 10000L / rowTotals(lang), s"($lang,$pred) bp")
    }
  }

  test("decile bucketing: 10 balanced buckets, ordered ranges, full cover") {
    val nDocs = graft.util.Tables.documents(spark, sf).count()
    val rows = SparkEntry.all("q_decile_bucket").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === (1L to 10L))
    assert(rows.map(_._2).sum === nDocs)
    // ntile balance: bucket sizes differ by at most one
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1)
    // ranges ascend: bucket b's max key ≤ bucket b+1's min key
    rows.sortBy(_._1).sliding(2).foreach {
      case Array(a, b) => assert(a._4 <= b._3, s"buckets ${a._1}/${b._1}")
      case _ =>
    }
  }

  test("ivfpq: every neighbor comes from a probed cell and ranks are " +
    "dense per query") {
    import spark.implicits._
    val rows = SparkEntry.all("q_ivfpq").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.length <= 5)
      assert(rs.map(_._5).sorted.toSeq === (1L to rs.length).toSeq, s"q $qid")
      // ≤2 probed cells contribute neighbors
      assert(rs.map(_._3).distinct.length <= 2, s"q $qid cells")
      // ADC distance non-decreasing in rank, non-negative
      val byRk = rs.sortBy(_._5).map(_._4)
      assert(byRk.head >= 0.0)
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a <= b }, s"q $qid")
    }
  }
}
