package graft.ops

import graft.QueryDef
import graft.util.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` vectors (SURVEY.md §2.9):
  * brute-force cosine top-k as the verified baseline, an IVF-style
  * cell-probed variant as the 100 TB scale path, and embedding-cosine
  * near-duplicate detection.
  *
  * All element arithmetic casts float32 → double BEFORE multiplying so
  * both engines accumulate in float64 (SURVEY.md §7.4 discipline).
  *
  * Scale notes: the query side is always the broadcast side (small);
  * candidates stream through a broadcast nested-loop with no shuffle of
  * the big side. The IVF variant cuts the candidate set to the probed
  * cells — at 100 TB the cell assignment becomes the partition key
  * (repartition by cell id), turning ANN into per-cell local joins.
  */
object VectorOps {

  /** embedding (float32 list) → double list column. */
  private[graft] def vcol(c: Column): Column = transform(c, x => x.cast("double"))

  /** Native codegen dot product ([[graft.functions.DotProduct]]): the
    * same float64 math as the oracle (per-element widening, left-to-right
    * accumulation). */
  private def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Vectors with their L2 norms ([[graft.functions.L2Norm]]). */
  private def base(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.spread(Tables.embeddings(s, dir), "vec_id")
      .select($"vec_id", $"embedding".as("v"),
        call_function("graft_l2norm", $"embedding").as("nm"))
  }

  /** Shared oracle prelude: per-vector double list + L2 norm, and the
    * dot product via an index-series join (exact same float64 math). */
  private val oracleBase =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |           FROM embeddings),
      |     n AS (SELECT vec_id, ve,
      |                  sqrt(list_sum(list_transform(ve, x -> x*x))) AS nm
      |           FROM v)""".stripMargin

  /** Brute-force cosine top-5 neighbors for query vectors vec_id < 50. */
  private val simTopk = QueryDef(
    (s, dir) => {
      import s.implicits._
      val b0 = base(s, dir)
      val q = b0.filter($"vec_id" < 50)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nm".as("qn"))
      val cand = b0.select($"vec_id".as("nid"), $"v".as("nv"), $"nm".as("nn"))
      val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
      cand.join(broadcast(q), $"nid" =!= $"qid")
        .withColumn("cos", dot($"qv", $"nv") / ($"qn" * $"nn"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 5)
        .select($"qid", $"nid", round($"cos", 4).as("cos"), $"rk")
        .orderBy($"qid", $"rk")
    },
    oracleBase +
    """,
      |pairs AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS nid,
      |         list_sum(list_transform(list_zip(a.ve, b.ve), p -> p[1]*p[2]))
      |           / (a.nm * b.nm) AS cos
      |  FROM n a JOIN n b ON a.vec_id < 50 AND b.vec_id <> a.vec_id),
      |ranked AS (
      |  SELECT qid, nid, cos,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rk
      |  FROM pairs)
      |SELECT qid, nid, ROUND(cos, 4) AS cos, rk FROM ranked
      |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)

  /** k-NN majority-vote label classifier (k = 5, cosine): predict each
    * held-out vector's label (vec_id < 50) from the labeled remainder —
    * the eval loop every embedding-quality pipeline runs (is the space
    * good enough that neighbors share labels?). Vote: count labels among
    * the 5 nearest (cos desc, nid tiebreak) neighbors; argmax with
    * smaller-label tiebreak — both steps exact integer comparisons, so
    * the prediction is deterministic end-to-end.
    *
    * Scale: identical to q_sim_topk — the bounded query side broadcasts,
    * the store streams; the vote is a ≤|q|·|labels| two-phase agg, the
    * argmax a WindowGroupLimit. Never an all-pairs join. */
  private val knnClassify = QueryDef(
    (s, dir) => {
      import s.implicits._
      val b0 = base(s, dir)
      val lab = Tables.embeddings(s, dir).select($"vec_id", $"label")
      val q = b0.filter($"vec_id" < 50)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nm".as("qn"))
      val cand = b0.filter($"vec_id" >= 50)
        .select($"vec_id".as("nid"), $"v".as("nv"), $"nm".as("nn"))
      val wk = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
      val knn = cand.join(broadcast(q), lit(true))
        .withColumn("cos", dot($"qv", $"nv") / ($"qn" * $"nn"))
        .withColumn("rk", row_number().over(wk).cast("long"))
        .filter($"rk" <= 5)
        .join(lab.select($"vec_id".as("nid"), $"label".as("nlabel")), "nid")
      val wv = Window.partitionBy($"qid").orderBy($"votes".desc, $"nlabel")
      knn.groupBy($"qid", $"nlabel")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(wv))
        .filter($"vr" === 1)
        .join(lab.select($"vec_id".as("qid"), $"label".as("true_label")), "qid")
        .select($"qid", $"true_label",
          $"nlabel".as("pred_label"), $"votes",
          ($"nlabel" === $"true_label").cast("long").as("correct"))
        .orderBy($"qid")
    },
    oracleBase +
    """,
      |pairs AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS nid,
      |         list_sum(list_transform(list_zip(a.ve, b.ve), p -> p[1]*p[2]))
      |           / (a.nm * b.nm) AS cos
      |  FROM n a JOIN n b ON a.vec_id < 50 AND b.vec_id >= 50),
      |ranked AS (
      |  SELECT qid, nid, cos,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
      |  FROM pairs),
      |votes AS (
      |  SELECT r.qid, l.label AS nlabel, COUNT(*) AS votes
      |  FROM ranked r JOIN embeddings l ON l.vec_id = r.nid
      |  WHERE r.rk <= 5 GROUP BY 1, 2),
      |best AS (
      |  SELECT qid, nlabel, votes,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, nlabel) AS vr
      |  FROM votes)
      |SELECT b.qid, ql.label AS true_label, b.nlabel AS pred_label,
      |       b.votes, CAST(b.nlabel = ql.label AS BIGINT) AS correct
      |FROM best b JOIN embeddings ql ON ql.vec_id = b.qid
      |WHERE b.vr = 1 ORDER BY b.qid""".stripMargin)

  /** Nearest-centroid (Rocchio) label classifier — the cheap linear
    * baseline next to q_knn_classify on the same held-out split
    * (vec_id < 50 scored against per-label mean vectors of the labeled
    * remainder). Centroid components go through r4a (exact decimal sum,
    * one IEEE division) so both engines hold bit-identical model
    * weights; the query-to-centroid L2² is the q_kmeans_step index-order
    * fold on those identical doubles, argmin ties by label.
    *
    * Scale: the model is |labels|·dim doubles — ONE broadcast row; the
    * store is never shuffled (narrow projection behind a singleton cross
    * join, the q_vec_quantize shape). Training is one two-phase
    * (label, pos) aggregate. */
  private val centroidClassify = QueryDef(
    (s, dir) => {
      import s.implicits._
      val cents = Tables.embeddings(s, dir).filter($"vec_id" >= 50)
        .select($"label".cast("long").as("label"), posexplode(vcol($"embedding")))
        .groupBy($"label", $"pos")
        .agg(Incremental.r4a(sum($"col".cast("decimal(28,10)")),
          count(lit(1))).as("c"))
        .groupBy($"label")
        .agg(sort_array(collect_list(struct($"pos", $"c"))).as("pc"))
        .select($"label", transform($"pc", p => p.getField("c")).as("cent"))
        .agg(sort_array(collect_list(struct($"label", $"cent"))).as("cents"))
      Tables.spread(Tables.embeddings(s, dir), "vec_id")
        .filter($"vec_id" < 50)
        .select($"vec_id", vcol($"embedding").as("v"),
          $"label".cast("long").as("true_label"))
        .crossJoin(broadcast(cents))
        .withColumn("best", array_min(transform($"cents", c => struct(
          aggregate(zip_with($"v", c.getField("cent"),
            (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x).as("d2"),
          c.getField("label").as("label")))))
        .select($"vec_id", $"true_label",
          $"best.label".as("pred_label"),
          ($"best.label" === $"true_label").cast("long").as("correct"))
        .orderBy($"vec_id")
    },
    s"""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |           FROM embeddings),
      |e AS (SELECT label, CAST(i.i AS BIGINT) AS pos, ve[i.i] AS x
      |      FROM (SELECT * FROM v WHERE vec_id >= 50) t
      |      CROSS JOIN (SELECT UNNEST(range(1, 100)) AS i) i
      |      WHERE i.i <= len(ve)),
      |c AS (SELECT label, pos,
      |             FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(x AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS c
      |      FROM e GROUP BY 1, 2),
      |c2 AS (SELECT label, list(c ORDER BY pos) AS cent FROM c GROUP BY label),
      |d AS (SELECT q.vec_id, q.label AS true_label, c2.label AS clabel,
      |             list_sum(list_transform(range(1, 65), i ->
      |               (q.ve[i] - c2.cent[i]) * (q.ve[i] - c2.cent[i]))) AS d2
      |      FROM (SELECT * FROM v WHERE vec_id < 50) q CROSS JOIN c2),
      |r AS (SELECT vec_id, true_label, clabel,
      |             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rk
      |      FROM d)
      |SELECT vec_id, true_label, clabel AS pred_label,
      |       CAST(clabel = true_label AS BIGINT) AS correct
      |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin)

  /** Persisted lineages memoized per (session, dir)
    * ([[graft.util.SessionMemo]]). */
  private val lineages = graft.util.SessionMemo.lineages("vec")

  /** Verified embedding near-dup pairs (ida < idb, exact cos ≥ 0.35 on
    * the IVF candidate set) — dedup_embed's stage-2 output, extracted
    * so q_semantic_clusters can ride the same lineage, and MEMOIZED per
    * (session, dir): two consumers (the pair query and the CC labels
    * builder) would otherwise each re-run the probe + verify joins —
    * the lshCandidates discipline applied to the embedding tier. */
  private def semanticPairs(s: SparkSession, dir: String): DataFrame =
    lineages(s, s"semanticPairs|$dir")(semanticPairsBuild(s, dir))

  private def semanticPairsBuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b0 = base(s, dir)
    val cents = b0.filter($"vec_id" < 10)
      .select($"vec_id".as("cid"), $"v".as("cv"), $"nm".as("cn"))
    // stage 1: every vector probes its 2 nearest seed cells
    val wProbe = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid")
    val probes = b0.crossJoin(broadcast(cents))
      .withColumn("ccos", dot($"v", $"cv") / ($"nm" * $"cn"))
      .withColumn("prk", row_number().over(wProbe))
      .filter($"prk" <= 2)
      .select($"vec_id", $"cid".as("cell"))
    // candidate pairs: share ≥1 probe cell — equi-join on the cell key
    val cand = probes.select($"cell", $"vec_id".as("ida"))
      .join(probes.select($"cell".as("cell2"), $"vec_id".as("idb")),
        $"cell" === $"cell2" && $"ida" < $"idb")
      .select($"ida", $"idb").distinct()
    // stage 2: exact cosine verify on candidates only
    val va = b0.select($"vec_id".as("ida"), $"v".as("va"), $"nm".as("na"))
    val vb = b0.select($"vec_id".as("idb"), $"v".as("vb"), $"nm".as("nb"))
    cand.join(va, "ida").join(vb, "idb")
      .withColumn("cos", dot($"va", $"vb") / ($"na" * $"nb"))
      .filter($"cos" >= 0.35)
      .select($"ida", $"idb", $"cos")
  }

  /** Shared oracle CTE chain ending in `sem(ida, idb, cos)` — the
    * replay of [[semanticPairs]]. */
  private val oracleSemanticPairs: String = oracleBase +
    """,
      |cents AS (SELECT vec_id AS cid, ve AS cv, nm AS cn FROM n WHERE vec_id < 10),
      |probes AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT n.vec_id, c.cid,
      |           ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
      |             list_sum(list_transform(list_zip(n.ve, c.cv), p -> p[1]*p[2]))
      |               / (n.nm * c.cn) DESC, c.cid) AS prk
      |    FROM n CROSS JOIN cents c)
      |  WHERE prk <= 2),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
      |  FROM probes a JOIN probes b ON a.cell = b.cell AND a.vec_id < b.vec_id),
      |sem AS (
      |  SELECT c.ida, c.idb,
      |         list_sum(list_transform(list_zip(a.ve, b.ve), p -> p[1]*p[2]))
      |           / (a.nm * b.nm) AS cos
      |  FROM cand c JOIN n a ON c.ida = a.vec_id JOIN n b ON c.idb = b.vec_id
      |  WHERE list_sum(list_transform(list_zip(a.ve, b.ve), p -> p[1]*p[2]))
      |        / (a.nm * b.nm) >= 0.35)""".stripMargin

  /** Embedding-cosine near-duplicate pairs — TWO-STAGE (the scalable
    * contract, same shape as TextDedup's MinHash→LSH→verify): stage 1
    * assigns every vector to its 2 nearest IVF seed cells (centroids =
    * vec_id < 10, cos desc / cid asc tie-break — the q_sim_ivf
    * machinery) and generates candidate pairs by a self EQUI-join on the
    * cell id; stage 2 verifies exact cosine ≥ 0.35 on candidates only.
    * The oracle replays both stages, so the result is the declared
    * two-stage semantic — never a corpus-wide O(n²) pair stream (the
    * r02 all-pairs BNLJ); PlanSpec asserts the candidate join is equi on
    * the cell key. Measured on this corpus (isotropic noise — max
    * pairwise cos ~0.5, so 0.35 sits in the random-similarity tail, the
    * regime where NO sublinear candidate scheme can reach recall 1):
    * candidates ≈ 37% of all pairs, recall ≈ 0.65-0.73 vs brute force
    * (floor pinned in RecallSpec). On a real near-dup corpus (clusters
    * at cos ≥ 0.9) the same pipeline approaches recall 1; ncent/nprobe
    * are the tuning knobs. At 100 TB the cell id is the partition key
    * and centroids come from an offline k-means refinement. */
  private val dedupEmbed = QueryDef(
    (s, dir) => {
      import s.implicits._
      semanticPairs(s, dir)
        .select($"ida", $"idb", round($"cos", 4).as("cos"))
        .orderBy($"ida", $"idb")
    },
    oracleSemanticPairs +
      "\nSELECT ida, idb, ROUND(cos, 4) AS cos FROM sem ORDER BY ida, idb")

  /** starCC labels over the verified embedding pairs, memoized per
    * (session, dir). Memoized DESPITE having a single consumer
    * (q_semantic_clusters) — the exception to the r9 single-consumer
    * prune, same rationale as TextDedup.canonicalAssign: the CC label
    * assignment is an expensive ITERATIVE artifact (~11 s of starCC rounds at sf0.1 — measured
    * when briefly unmemoized: every invocation re-paid the full build,
    * since localCheckpoints don't reuse across invocations), and a
    * one-off per-session build is exactly the cost shape the memo's
    * warm line item represents.
    * The prune stays in force for the cheap single-pass unigram/ngram
    * lineages only. */
  private def semanticLabels(s: SparkSession, dir: String): DataFrame =
    lineages(s, s"semanticLabels|$dir") {
      import s.implicits._
      Scale.starCC(semanticPairs(s, dir).select($"ida", $"idb"),
        "ida", "idb")
    }

  /** Corpus-level SEMANTIC dedup (the SemDeDup shape, Abbas et al.
    * 2023, public): connected components over the verified
    * embedding-cosine near-dup pairs, keep-lowest-id canonical per
    * cluster — the embedding-space twin of q_dedup_canonical's
    * text-shingle clustering, sharing its contract (kept = 1 iff the
    * doc survives). Singleton vectors (no verified neighbor) are their
    * own canonical.
    *
    * Scale: the CC runs on the SPARSE verified pair set only (the
    * IVF-bucketed candidate stage bounds it — never all-pairs), via
    * [[Scale.starCC]]'s skew-resistant min-label propagation; the
    * final join is a left join of labels onto vector ids. */
  private val semanticClusters = QueryDef(
    (s, dir) => {
      import s.implicits._
      val labels = semanticLabels(s, dir)
      Tables.embeddings(s, dir).select($"vec_id")
        .join(labels.select($"node".as("vec_id"), $"lbl"),
          Seq("vec_id"), "left")
        .select($"vec_id", coalesce($"lbl", $"vec_id").as("canonical"))
        .withColumn("kept", ($"vec_id" === $"canonical").cast("long"))
        .orderBy($"vec_id")
    },
    oracleSemanticPairs.replaceFirst("WITH ", "WITH RECURSIVE ") +
    """,
      |edges AS (SELECT ida AS src, idb AS dst FROM sem
      |          UNION ALL SELECT idb, ida FROM sem),
      |reach(a, b) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |lbl AS (SELECT a AS vec_id, MIN(b) AS canonical FROM reach GROUP BY a)
      |SELECT vec_id, canonical,
      |       CAST(vec_id = canonical AS BIGINT) AS kept
      |FROM lbl ORDER BY vec_id""".stripMargin)

  /** IVF-style ANN: centroids = vectors 0..9 (deterministic seed cells);
    * every vector is assigned to its nearest centroid (by cosine, ties →
    * lower centroid id); each query (vec_id in [10, 30)) probes its 2
    * nearest cells and ranks only candidates in those cells — top-3.
    * This is the scale path: cell id becomes the partition key, the
    * brute-force join shrinks to the probed cells only. */
  private val simIvf = QueryDef(
    (s, dir) => {
      import s.implicits._
      val b0 = base(s, dir)
      val cents = b0.filter($"vec_id" < 10)
        .select($"vec_id".as("cid"), $"v".as("cv"), $"nm".as("cn"))
      // nearest cell per vector (rank 1 over centroid cosine)
      val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid")
      val assigned = b0.crossJoin(broadcast(cents))
        .withColumn("ccos", dot($"v", $"cv") / ($"nm" * $"cn"))
        .withColumn("crk", row_number().over(wAssign))
        .filter($"crk" === 1)
        .select($"vec_id", $"v", $"nm", $"cid".as("cell"))
      // 2 nearest cells per query vector
      val wProbe = Window.partitionBy($"qid").orderBy($"qcos".desc, $"cid")
      val probes = b0.filter($"vec_id" >= 10 && $"vec_id" < 30)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nm".as("qn"))
        .crossJoin(broadcast(cents))
        .withColumn("qcos", dot($"qv", $"cv") / ($"qn" * $"cn"))
        .withColumn("prk", row_number().over(wProbe))
        .filter($"prk" <= 2)
        .select($"qid", $"qv", $"qn", $"cid".as("probe_cell"))
      // rank candidates inside probed cells
      val wRank = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
      assigned.select($"vec_id".as("nid"), $"v".as("nv"), $"nm".as("nn"), $"cell")
        .join(broadcast(probes), $"cell" === $"probe_cell" && $"nid" =!= $"qid")
        .withColumn("cos", dot($"qv", $"nv") / ($"qn" * $"nn"))
        .withColumn("rk", row_number().over(wRank).cast("long"))
        .filter($"rk" <= 3)
        .select($"qid", $"nid", $"cell".cast("long").as("cell"),
          round($"cos", 4).as("cos"), $"rk")
        .orderBy($"qid", $"rk")
    },
    oracleBase +
    """,
      |cents AS (SELECT vec_id AS cid, ve AS cv, nm AS cn FROM n WHERE vec_id < 10),
      |assigned AS (
      |  SELECT vec_id, ve, nm, cid AS cell FROM (
      |    SELECT n.vec_id, n.ve, n.nm, c.cid,
      |           ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
      |             list_sum(list_transform(list_zip(n.ve, c.cv), p -> p[1]*p[2]))
      |               / (n.nm * c.cn) DESC, c.cid) AS crk
      |    FROM n CROSS JOIN cents c)
      |  WHERE crk = 1),
      |probes AS (
      |  SELECT qid, qv, qn, cid AS probe_cell FROM (
      |    SELECT n.vec_id AS qid, n.ve AS qv, n.nm AS qn, c.cid,
      |           ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
      |             list_sum(list_transform(list_zip(n.ve, c.cv), p -> p[1]*p[2]))
      |               / (n.nm * c.cn) DESC, c.cid) AS prk
      |    FROM n CROSS JOIN cents c
      |    WHERE n.vec_id >= 10 AND n.vec_id < 30)
      |  WHERE prk <= 2),
      |ranked AS (
      |  SELECT p.qid, a.vec_id AS nid, a.cell,
      |         list_sum(list_transform(list_zip(p.qv, a.ve), q -> q[1]*q[2]))
      |           / (p.qn * a.nm) AS cos,
      |         ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
      |           list_sum(list_transform(list_zip(p.qv, a.ve), q -> q[1]*q[2]))
      |             / (p.qn * a.nm) DESC, a.vec_id) AS rk
      |  FROM probes p JOIN assigned a
      |    ON a.cell = p.probe_cell AND a.vec_id <> p.qid)
      |SELECT qid, nid, CAST(cell AS BIGINT) AS cell, ROUND(cos, 4) AS cos,
      |       CAST(rk AS BIGINT) AS rk
      |FROM ranked WHERE rk <= 3 ORDER BY qid, rk""".stripMargin)

  /** Per-label centroid (element-wise mean) — the vector-aggregate
    * surface (SURVEY.md §2.9 UDAF row). Emitted as (label, pos, centroid)
    * rows rather than arrays so the oracle compares scalars; the decimal
    * SUM keeps the mean independent of partial-agg order (see
    * Incremental.r4). Scale: shuffle carries |labels × dim| partial sums. */
  private val vecCentroid = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.embeddings(s, dir)
        .select($"label".cast("long").as("label"),
          posexplode($"embedding"))
        .groupBy($"label", ($"pos" + 1).cast("long").as("pos"))
        .agg(
          Incremental.r4a(sum($"col".cast("double").cast("decimal(28,10)")),
            count(lit(1))).as("centroid"),
          count(lit(1)).as("n"))
        .orderBy($"label", $"pos")
    },
    """WITH v AS (SELECT CAST(label AS BIGINT) AS label,
      |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |           FROM embeddings),
      |e AS (SELECT label, CAST(i.i AS BIGINT) AS pos, ve[i.i] AS x
      |      FROM v CROSS JOIN (SELECT UNNEST(range(1, 100)) AS i) i
      |      WHERE i.i <= len(ve))
      |SELECT label, pos,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(x AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS centroid,
      |       COUNT(*) AS n
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Embedding-space drift monitor — the vector twin of the scalar
    * drift family (q_psi / q_ks_test / q_cusum): split the store into
    * two cohorts (vec_id parity — in production: last week vs this
    * week, or train vs serve), compute each cohort's exact per-label
    * centroid, and report the centroid displacement (L2) and the
    * cosine between cohort centroids per label. A healthy re-embed
    * reads cos ≈ 1 / small L2; an encoder change or distribution
    * shift reads here before any downstream metric moves.
    *
    * Exactness: per-(label, cohort, dim) centroids are r4a means
    * (bit-identical 4-decimal-grid doubles); each squared-difference /
    * product term casts to DECIMAL(28,12) BEFORE summation (the
    * q_pagerank_step order-independence discipline; unscaled sums stay
    * < 2^53 so the final decimal→double casts are exact), and the
    * emitted L2/cos are one sqrt / one division chain on identical
    * operands. Scale: one posexplode shuffle of the store into
    * |labels × 2 × dims| cells; everything after is tiny. */
  private val embeddingDrift = QueryDef(
    (s, dir) => {
      import s.implicits._
      val cells = Tables.embeddings(s, dir)
        .select($"label".cast("long").as("label"),
          ($"vec_id" % 2).cast("long").as("cohort"), posexplode($"embedding"))
        .groupBy($"label", $"cohort", ($"pos" + 1).cast("long").as("pos"))
        .agg(Incremental.r4a(sum($"col".cast("double").cast("decimal(28,10)")),
          count(lit(1))).as("c"), count(lit(1)).as("n"))
      val a = cells.filter($"cohort" === 0)
        .select($"label", $"pos", $"c".as("ca"), $"n".as("na"))
      val b = cells.filter($"cohort" === 1)
        .select($"label".as("lb"), $"pos".as("pb"), $"c".as("cb"), $"n".as("nb"))
      a.join(b, $"label" === $"lb" && $"pos" === $"pb")
        .groupBy($"label")
        .agg(max($"na").as("n_a"), max($"nb").as("n_b"),
          sum((($"ca" - $"cb") * ($"ca" - $"cb")).cast("decimal(28,12)"))
            .as("d2"),
          sum(($"ca" * $"cb").cast("decimal(28,12)")).as("dot"),
          sum(($"ca" * $"ca").cast("decimal(28,12)")).as("aa"),
          sum(($"cb" * $"cb").cast("decimal(28,12)")).as("bb"))
        .select($"label", $"n_a", $"n_b",
          sqrt($"d2".cast("double")).as("l2_drift"),
          // dot / sqrt(aa·bb), NOT dot / (sqrt·sqrt): IEEE sqrt(x·x)
          // recovers |x| exactly, so identical cohorts read cos = 1.0
          // bit-exactly (the self-drift invariant the spec pins)
          ($"dot".cast("double") /
            sqrt($"aa".cast("double") * $"bb".cast("double")))
            .as("cos_centroids"))
        .orderBy($"label")
    },
    """WITH v AS (SELECT CAST(label AS BIGINT) AS label,
      |                  CAST(vec_id % 2 AS BIGINT) AS cohort,
      |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |           FROM embeddings),
      |e AS (SELECT label, cohort, CAST(i.i AS BIGINT) AS pos, ve[i.i] AS x
      |      FROM v CROSS JOIN (SELECT UNNEST(range(1, 100)) AS i) i
      |      WHERE i.i <= len(ve)),
      |cell AS (
      |  SELECT label, cohort, pos,
      |         FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(x AS DECIMAL(28,10))), 6)
      |                   AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE)
      |               / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS c,
      |         COUNT(*) AS n
      |  FROM e GROUP BY 1, 2, 3),
      |j AS (SELECT a.label, a.n AS na, b.n AS nb,
      |             a.c AS ca, b.c AS cb
      |      FROM (SELECT * FROM cell WHERE cohort = 0) a
      |      JOIN (SELECT * FROM cell WHERE cohort = 1) b
      |        ON a.label = b.label AND a.pos = b.pos)
      |SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
      |       SQRT(CAST(SUM(CAST((ca - cb) * (ca - cb) AS DECIMAL(28,12)))
      |                 AS DOUBLE)) AS l2_drift,
      |       CAST(SUM(CAST(ca * cb AS DECIMAL(28,12))) AS DOUBLE)
      |         / SQRT(CAST(SUM(CAST(ca * ca AS DECIMAL(28,12))) AS DOUBLE)
      |                * CAST(SUM(CAST(cb * cb AS DECIMAL(28,12))) AS DOUBLE))
      |         AS cos_centroids
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Int8 scalar quantization of the embedding store + reconstruction
    * error report — the 4× (fp32→int8) storage cut a 100 TB vector
    * corpus takes before ANN serving (public FAISS/ScaNN practice).
    * Per-dimension min/max come from an explode + order-independent
    * min/max aggregate (|dims| rows), assemble into ONE sorted stats
    * row, and broadcast to every vector; quantize / dequantize / error
    * norms are per-row array arithmetic with left-to-right accumulation
    * (bit-identical on both engines — the q_array_funcs discipline),
    * and the half-up code rounding is floor(x+0.5) on identical
    * doubles. A degenerate dimension (mx == mn) emits code 0 and
    * reconstructs to mn exactly. Scale: one tiny stats aggregate + a
    * narrow map over vectors — no shuffle of the store itself. */
  private val vecQuantize = QueryDef(
    (s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
        .select($"vec_id", vcol($"embedding").as("v"))
      val stats = emb.select(posexplode($"v"))
        .groupBy($"pos").agg(min($"col").as("mn"), max($"col").as("mx"))
        .agg(sort_array(collect_list(struct($"pos", $"mn", $"mx"))).as("st"))
        .select(transform($"st", t => t.getField("mn")).as("mns"),
          transform($"st", t => t.getField("mx")).as("mxs"))
      val rng = zip_with($"mxs", $"mns", (mx, mn) => mx - mn)
      val codes = zip_with(
        zip_with($"v", $"mns", (x, mn) => x - mn), $"rng",
        (dx, r) => when(r > 0,
          least(greatest(floor(dx / r * lit(255.0) + lit(0.5)), lit(0.0)),
            lit(255.0))).otherwise(lit(0.0)))
      val recon = zip_with(
        zip_with($"codes", $"rng", (c, r) => c / lit(255.0) * r), $"mns",
        (y, mn) => y + mn)
      val err = zip_with($"v", $"recon", (x, y) => x - y)
      emb.crossJoin(broadcast(stats))
        .withColumn("rng", rng)
        .withColumn("codes", codes)
        .withColumn("recon", recon)
        .withColumn("err", err)
        .select(
          $"vec_id",
          size($"v").cast("long").as("n_dims"),
          aggregate($"codes", lit(0.0), (a, x) => a + x).cast("long")
            .as("code_sum"),
          round(sqrt(aggregate($"err", lit(0.0), (a, x) => a + x * x)), 4)
            .as("l2_err"),
          round(array_max(transform($"err", x => abs(x))), 4)
            .as("max_abs_err"))
        .orderBy($"vec_id")
    },
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |           FROM embeddings),
      |st AS (
      |  SELECT i.i AS pos, MIN(ve[i.i]) AS mn, MAX(ve[i.i]) AS mx
      |  FROM v CROSS JOIN (SELECT UNNEST(range(1, 100)) AS i) i
      |  WHERE i.i <= len(ve) GROUP BY 1),
      |arrs AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
      |         FROM st),
      |q AS (
      |  SELECT vec_id, ve, mns, mxs,
      |         list_transform(range(1, len(ve) + 1), i ->
      |           CASE WHEN mxs[i] - mns[i] > 0
      |                THEN least(greatest(FLOOR((ve[i] - mns[i]) / (mxs[i] - mns[i]) * 255.0 + 0.5), 0.0), 255.0)
      |                ELSE 0.0 END) AS codes
      |  FROM v CROSS JOIN arrs),
      |r AS (
      |  SELECT vec_id, ve, codes,
      |         list_transform(range(1, len(ve) + 1), i ->
      |           codes[i] / 255.0 * (mxs[i] - mns[i]) + mns[i]) AS recon
      |  FROM q),
      |e AS (
      |  SELECT vec_id, codes,
      |         CAST(len(ve) AS BIGINT) AS n_dims,
      |         list_transform(range(1, len(ve) + 1), i -> ve[i] - recon[i]) AS err
      |  FROM r)
      |SELECT vec_id, n_dims,
      |       CAST(list_sum(codes) AS BIGINT) AS code_sum,
      |       ROUND(SQRT(list_sum(list_transform(err, x -> x * x))), 4) AS l2_err,
      |       ROUND(list_max(list_transform(err, x -> abs(x))), 4) AS max_abs_err
      |FROM e ORDER BY vec_id""".stripMargin)

  /** LSH-bucketed ANN — the third retrieval tier next to brute force
    * (q_sim_topk) and IVF cells (q_sim_ivf): 8 sign-random-hyperplane
    * bits → bucket id; each query ranks only its own bucket. Planes are
    * ±1 vectors from exact integer arithmetic (parity of a mixed linear
    * hash), mean-centered so a shared positive component can't collapse
    * every dot to one sign — all double math replayed bit-identically by
    * the oracle. On this corpus the vectors hug one direction, so the
    * planes agree and yield few buckets — which IS correct cosine-LSH
    * behavior (same-direction vectors must share buckets; recall of the
    * bucketed top-k is pinned in RecallSpec). Scale: bucket id becomes
    * the partition key; candidate generation never leaves the bucket. */
  private val NumPlanes = 8
  private val Dim = 64
  private def planeSign(i: Int, j: Int): Double =
    if (((i.toLong * 2654435761L + j.toLong * 998244353L) % 1000000007L) % 2 == 0) 1.0
    else -1.0
  private val planes: Seq[Array[Double]] =
    (0 until NumPlanes).map(j => Array.tabulate(Dim)(i => planeSign(i, j)))
  private val planeSums: Seq[Double] = planes.map(_.sum)

  private val simLsh = QueryDef(
    (s, dir) => {
      import s.implicits._
      val b0 = base(s, dir)
      val vd = transform($"v", x => x.cast("double"))
      val svec = aggregate(vd, lit(0.0), (acc, x) => acc + x)
      val bucketCol = (0 until NumPlanes).map { j =>
        val plane = array(planes(j).toIndexedSeq.map(lit): _*)
        val d = aggregate(zip_with(vd, plane, (x, y) => x * y), lit(0.0),
          (acc, x) => acc + x)
        when(d - svec * lit(planeSums(j) / Dim) >= 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      val vecs = b0.withColumn("bucket", bucketCol)
      val q = vecs.filter($"vec_id" < 50)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nm".as("qn"),
          $"bucket".as("qb"))
      val cand = vecs.select($"vec_id".as("nid"), $"v".as("nv"),
        $"nm".as("nn"), $"bucket")
      val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
      cand.join(broadcast(q), $"bucket" === $"qb" && $"nid" =!= $"qid")
        .withColumn("cos", dot($"qv", $"nv") / ($"qn" * $"nn"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select($"qid", $"nid", $"bucket", round($"cos", 4).as("cos"), $"rk")
        .orderBy($"qid", $"rk")
    }, {
      val terms = (0 until NumPlanes).map { j =>
        s"""(CASE WHEN list_sum(list_transform(range(0,$Dim), i -> ve[i+1] *
           |  (CASE WHEN ((i*2654435761 + CAST($j AS BIGINT)*998244353) % 1000000007) % 2 = 0
           |        THEN 1.0 ELSE -1.0 END)))
           |  - list_sum(ve) * (${planeSums(j)}/$Dim.0) >= 0
           |  THEN ${1L << j} ELSE 0 END)""".stripMargin
      }.mkString(" + ")
      oracleBase +
      s""",
        |b AS (SELECT vec_id, ve, nm, $terms AS bucket FROM n),
        |ranked AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid, c.bucket,
        |         list_sum(list_transform(list_zip(q.ve, c.ve), p -> p[1]*p[2]))
        |           / (q.nm * c.nm) AS cos,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |           list_sum(list_transform(list_zip(q.ve, c.ve), p -> p[1]*p[2]))
        |             / (q.nm * c.nm) DESC, c.vec_id) AS rk
        |  FROM b q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 50)
        |SELECT qid, nid, CAST(bucket AS BIGINT) AS bucket, ROUND(cos, 4) AS cos,
        |       CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 3 ORDER BY qid, rk""".stripMargin
    })

  /** One Lloyd iteration of k-means over the embedding store (k = 8,
    * seeds = the 8 lowest vec_ids) — the clustering step behind
    * SemDeDup-style semantic dedup and cluster-balanced corpus
    * sampling. The seed centroids are aggregated into ONE row (a
    * sorted array of (cid, vector) structs, k·dim doubles) and
    * broadcast, so assignment is a narrow per-row map with no shuffle
    * of the store: argmin over k exact left-to-right squared-L2
    * distances, with a (d2, cid) struct-min for the deterministic
    * tie-break. Re-estimation is the |k × dim|-row decimal-mean
    * shuffle (vecCentroid discipline). Scale: k·dim stays far under
    * any broadcast budget no matter the corpus size; only the k×dim
    * partial sums move in the shuffle, and further Lloyd rounds reuse
    * the same two-job shape (iterate like TextDedup's propagation —
    * job-launch bound, not data bound). */
  private val KSeeds = 8
  private val kmeansStep = QueryDef(
    (s, dir) => {
      import s.implicits._
      val emb = Tables.spread(Tables.embeddings(s, dir), "vec_id")
        .select($"vec_id", vcol($"embedding").as("v"))
      // seeds skip the spread fan-out: 8 rows collapse to ONE anyway,
      // and the parquet scan pushes vec_id < 8 down (PushedFilters)
      val seeds = Tables.embeddings(s, dir).filter($"vec_id" < KSeeds)
        .agg(sort_array(collect_list(
          struct($"vec_id".as("cid"), vcol($"embedding").as("cv")))).as("cents"))
      val d2s = transform($"cents", c =>
        struct(
          aggregate(zip_with($"v", c.getField("cv"),
            (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
            .as("d2"),
          c.getField("cid").as("cid")))
      emb.crossJoin(broadcast(seeds))
        .withColumn("best", array_min(d2s))
        .select($"best.cid".as("cluster"), posexplode($"v"))
        .groupBy($"cluster", ($"pos" + 1).cast("long").as("pos"))
        .agg(
          Incremental.r4a(sum($"col".cast("decimal(28,10)")), count(lit(1)))
            .as("centroid"),
          count(lit(1)).as("n"))
        .orderBy($"cluster", $"pos")
    },
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |           FROM embeddings),
      |d AS (SELECT v.vec_id, v.ve, c.vec_id AS cid,
      |             list_sum(list_transform(range(1, ${Dim + 1}), i ->
      |               (v.ve[i] - c.ve[i]) * (v.ve[i] - c.ve[i]))) AS d2
      |      FROM v CROSS JOIN (SELECT * FROM v WHERE vec_id < $KSeeds) c),
      |a AS (SELECT vec_id, ve, cid,
      |             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
      |      FROM d),
      |e AS (SELECT cid AS cluster, CAST(i.i AS BIGINT) AS pos, ve[i.i] AS x
      |      FROM a CROSS JOIN (SELECT UNNEST(range(1, 100)) AS i) i
      |      WHERE rk = 1 AND i.i <= len(ve))
      |SELECT cluster, pos,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(x AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS centroid,
      |       COUNT(*) AS n
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Product-quantization assignment (Jégou et al. 2011 — the ANN
    * compression step between int8 quantization and IVF): the 64-dim
    * vector splits into M=8 contiguous 8-dim subvectors; each
    * subvector is assigned to its nearest of K=8 subcentroids
    * (argmin L2², ties by centroid id — the same struct-min rule as
    * q_kmeans_step), yielding an 8-byte code per vector plus the exact
    * reconstruction error Σ_m min d2. Subcentroids are the first-K
    * seed rule the kmeans step uses, sliced per subspace, so both
    * engines derive the codebook identically. The error sum is a
    * fixed-order chain of 8 exact decimal(28,10) adds (decimal
    * addition is exact, so DuckDB's SUM over the same 8 terms cannot
    * differ), rounded in decimal.
    *
    * Scale: the codebook is ONE broadcast row (K·dim doubles); the
    * store never shuffles — assignment is a narrow projection behind
    * the singleton cross join, the same zero-shuffle shape as
    * q_vec_quantize/q_kmeans_step. PQ codes then feed an
    * asymmetric-distance scan 8× smaller than the raw store. */
  private val vecPq = QueryDef(
    (s, dir) => {
      import s.implicits._
      val M = 8; val sub = Dim / M
      val emb = Tables.spread(Tables.embeddings(s, dir), "vec_id")
        .select($"vec_id", vcol($"embedding").as("v"))
      val seeds = Tables.embeddings(s, dir).filter($"vec_id" < KSeeds)
        .agg(sort_array(collect_list(
          struct($"vec_id".as("cid"), vcol($"embedding").as("cv")))).as("cents"))
      val asg = transform(sequence(lit(1), lit(M)), m =>
        array_min(transform($"cents", c => struct(
          aggregate(
            zip_with(
              slice($"v", (m - 1) * sub + 1, lit(sub)),
              slice(c.getField("cv"), (m - 1) * sub + 1, lit(sub)),
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, x) => acc + x).as("d2"),
          c.getField("cid").as("cid")))))
      val errDec = (0 until M)
        .map(i => element_at($"asg", i + 1).getField("d2").cast("decimal(28,10)"))
        .reduce(_ + _)
      // Pack the M=8 3-bit codes (cid < K=8) into ONE BIGINT, low
      // subspace in the low bits: code = Σ_m cid_m · 8^m. A scalar
      // column hash-compares cleanly in the driver's oracle harness
      // (an array<bigint> column crashed its pandas sort in r5) and is
      // also the production layout — an 8-byte packed code beats a
      // 8-element array for scan width at 100 TB.
      val packed = (0 until M)
        .map(i => element_at($"asg", i + 1).getField("cid") * lit(1L << (3 * i)))
        .reduce(_ + _)
      emb.crossJoin(broadcast(seeds))
        .withColumn("asg", asg)
        .select($"vec_id",
          packed.cast("long").as("code"),
          Incremental.r4s(errDec).as("err"))
        .orderBy($"vec_id")
    },
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |           FROM embeddings),
      |d AS (SELECT v.vec_id, m.m, c.vec_id AS cid,
      |             list_sum(list_transform(range(1, 9), i ->
      |               (v.ve[(m.m-1)*8 + i] - c.ve[(m.m-1)*8 + i]) *
      |               (v.ve[(m.m-1)*8 + i] - c.ve[(m.m-1)*8 + i]))) AS d2
      |      FROM v
      |      CROSS JOIN (SELECT UNNEST(range(1, 9)) AS m) m
      |      CROSS JOIN (SELECT * FROM v WHERE vec_id < $KSeeds) c),
      |a AS (SELECT vec_id, m, cid, d2,
      |             ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rk
      |      FROM d),
      |g AS (SELECT vec_id,
      |             CAST(SUM(cid * CAST(POW(2, 3 * (m - 1)) AS BIGINT)) AS BIGINT) AS code,
      |             SUM(CAST(d2 AS DECIMAL(28,10))) AS err_s
      |      FROM a WHERE rk = 1 GROUP BY vec_id)
      |SELECT vec_id, code, CAST(ROUND(err_s, 4) AS DOUBLE) AS err
      |FROM g ORDER BY vec_id""".stripMargin)

  /** PQ asymmetric-distance top-k search (ADC — Jégou et al. 2011,
    * §IV.A): the query side of q_vec_pq. Each query precomputes a
    * lookup table lut[m][k] = L2²(q_m, c_k,m) against the SAME first-K
    * seed codebook (M·K = 64 doubles per query); each stored vector is
    * then scored from its 8-byte PQ code alone — approx d2 =
    * Σ_m lut[m][code_m] — never touching the raw floats. Top-10
    * neighbors per query (self excluded) by exact-decimal distance,
    * vec_id tie-break.
    *
    * Determinism: each lut cell is an IEEE fold of 8 terms in index
    * order (both engines produce bit-identical doubles, the q_vec_pq
    * precedent); the 8-term distance is summed as exact decimal(28,10)
    * so the rank order cannot drift by summation order.
    *
    * Scale: this is WHY PQ exists at 100 TB — the scan reads |N|×8
    * bytes of codes instead of |N|×256 bytes of floats (32× less IO);
    * the codebook is one broadcast row, the per-query LUTs a tiny
    * broadcast fan-out, and rk ≤ 10 collapses to WindowGroupLimit
    * (per-partition top-k before the qid shuffle — no global sort). */
  private val pqAdc = QueryDef(
    (s, dir) => {
      import s.implicits._
      val M = 8; val sub = Dim / M; val NQ = 10; val TopK = 10
      val emb = Tables.spread(Tables.embeddings(s, dir), "vec_id")
        .select($"vec_id", vcol($"embedding").as("v"))
      val seeds = Tables.embeddings(s, dir).filter($"vec_id" < KSeeds)
        .agg(sort_array(collect_list(
          struct($"vec_id".as("cid"), vcol($"embedding").as("cv")))).as("cents"))
      // PQ codes — identical assignment rule to q_vec_pq (argmin L2²
      // per contiguous 8-dim subspace, cid tie-break via struct-min)
      val asg = transform(sequence(lit(1), lit(M)), m =>
        array_min(transform($"cents", c => struct(
          aggregate(
            zip_with(
              slice($"v", (m - 1) * sub + 1, lit(sub)),
              slice(c.getField("cv"), (m - 1) * sub + 1, lit(sub)),
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, x) => acc + x).as("d2"),
          c.getField("cid").as("cid")))))
      val codes = emb.crossJoin(broadcast(seeds))
        .withColumn("asg", asg)
        .select($"vec_id".as("nid"),
          transform($"asg", a => a.getField("cid")).as("codes"))
      // per-query LUT: lut[m][k] = L2²(q subspace m, centroid k
      // subspace m); cents is cid-sorted so index k+1 ↔ code k
      val qlut = Tables.embeddings(s, dir).filter($"vec_id" < NQ)
        .select($"vec_id".as("qid"), vcol($"embedding").as("qv"))
        .crossJoin(broadcast(seeds))
        .select($"qid", transform(sequence(lit(1), lit(M)), m =>
          transform($"cents", c =>
            aggregate(
              zip_with(
                slice($"qv", (m - 1) * sub + 1, lit(sub)),
                slice(c.getField("cv"), (m - 1) * sub + 1, lit(sub)),
                (x, y) => (x - y) * (x - y)),
              lit(0.0), (acc, x) => acc + x))).as("lut"))
      val d2Dec = (1 to M).map(m =>
        element_at(element_at($"lut", m),
          (element_at($"codes", m) + 1).cast("int")).cast("decimal(28,10)"))
        .reduce(_ + _)
      val w = Window.partitionBy($"qid").orderBy($"d2s", $"nid")
      codes.join(broadcast(qlut), $"nid" =!= $"qid")
        .withColumn("d2s", d2Dec)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= TopK)
        .select($"qid", $"nid", Incremental.r4s($"d2s").as("d2"), $"rk")
        .orderBy($"qid", $"rk")
    },
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |           FROM embeddings),
      |cb AS (SELECT * FROM v WHERE vec_id < $KSeeds),
      |d AS (SELECT v.vec_id, m.m, c.vec_id AS cid,
      |             list_sum(list_transform(range(1, 9), i ->
      |               (v.ve[(m.m-1)*8 + i] - c.ve[(m.m-1)*8 + i]) *
      |               (v.ve[(m.m-1)*8 + i] - c.ve[(m.m-1)*8 + i]))) AS d2
      |      FROM v
      |      CROSS JOIN (SELECT UNNEST(range(1, 9)) AS m) m
      |      CROSS JOIN cb c),
      |a AS (SELECT vec_id, m, cid,
      |             ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rk
      |      FROM d),
      |codes AS (SELECT vec_id AS nid, m, cid FROM a WHERE rk = 1),
      |lut AS (SELECT q.vec_id AS qid, m.m, c.vec_id AS cid,
      |               list_sum(list_transform(range(1, 9), i ->
      |                 (q.ve[(m.m-1)*8 + i] - c.ve[(m.m-1)*8 + i]) *
      |                 (q.ve[(m.m-1)*8 + i] - c.ve[(m.m-1)*8 + i]))) AS d2
      |        FROM (SELECT * FROM v WHERE vec_id < 10) q
      |        CROSS JOIN (SELECT UNNEST(range(1, 9)) AS m) m
      |        CROSS JOIN cb c),
      |sc AS (SELECT l.qid, c.nid, SUM(CAST(l.d2 AS DECIMAL(28,10))) AS d2s
      |       FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.cid
      |       WHERE c.nid <> l.qid
      |       GROUP BY 1, 2),
      |r AS (SELECT qid, nid, d2s,
      |             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2s, nid) AS BIGINT) AS rk
      |      FROM sc)
      |SELECT qid, nid, CAST(ROUND(d2s, 4) AS DOUBLE) AS d2, rk
      |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin)

  /** IVF-PQ search (Jégou et al. 2011 §V — the composed production ANN
    * index): coarse IVF routing THEN PQ-ADC scoring. The store is
    * assigned to coarse cells (full-dim L2², first-10 seed centroids,
    * cid tie-break); each query probes its 2 nearest cells; only
    * vectors in probed cells are scored, and scored from their 8-byte
    * PQ code via the per-query LUT — raw floats are never read at
    * search time. Top-5 per query by exact-decimal ADC distance.
    *
    * Scale: this is the 100 TB serving shape — the index scan touches
    * (cell, code) pairs only (cell is the partition key, 8-byte codes),
    * probed cells cut the candidate set ~nprobe/|cells|, and the
    * codebook + query LUTs + probe table are all broadcast. The two
    * windows (cell assignment, final top-k) are both WindowGroupLimit
    * rank-1/rank-k shapes. */
  private val ivfPq = QueryDef(
    (s, dir) => {
      import s.implicits._
      val M = 8; val sub = Dim / M; val TopK = 5
      def l2(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)
      val emb = Tables.spread(Tables.embeddings(s, dir), "vec_id")
        .select($"vec_id", vcol($"embedding").as("v"))
      val coarse = Tables.embeddings(s, dir).filter($"vec_id" < 10)
        .select($"vec_id".as("ccid"), vcol($"embedding").as("ccv"))
      val seeds = Tables.embeddings(s, dir).filter($"vec_id" < KSeeds)
        .agg(sort_array(collect_list(
          struct($"vec_id".as("cid"), vcol($"embedding").as("cv")))).as("cents"))
      // coarse cell per stored vector (rank-1 over L2², ccid tie-break)
      val wAssign = Window.partitionBy($"vec_id").orderBy($"cd2", $"ccid")
      val store = emb.crossJoin(broadcast(coarse))
        .withColumn("cd2", l2($"v", $"ccv"))
        .withColumn("crk", row_number().over(wAssign))
        .filter($"crk" === 1)
        .select($"vec_id", $"v", $"ccid".as("cell"))
      // PQ codes for the store — the q_vec_pq assignment rule verbatim
      val asg = transform(sequence(lit(1), lit(M)), m =>
        array_min(transform($"cents", c => struct(
          aggregate(
            zip_with(
              slice($"v", (m - 1) * sub + 1, lit(sub)),
              slice(c.getField("cv"), (m - 1) * sub + 1, lit(sub)),
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, x) => acc + x).as("d2"),
          c.getField("cid").as("cid")))))
      val codes = store.crossJoin(broadcast(seeds))
        .withColumn("asg", asg)
        .select($"vec_id".as("nid"), $"cell",
          transform($"asg", a => a.getField("cid")).as("codes"))
      // 2 probed cells per query (same metric/tie-break as assignment)
      val queries = Tables.embeddings(s, dir)
        .filter($"vec_id" >= 10 && $"vec_id" < 30)
        .select($"vec_id".as("qid"), vcol($"embedding").as("qv"))
      val wProbe = Window.partitionBy($"qid").orderBy($"qd2", $"ccid")
      val probes = queries.crossJoin(broadcast(coarse))
        .withColumn("qd2", l2($"qv", $"ccv"))
        .withColumn("prk", row_number().over(wProbe))
        .filter($"prk" <= 2)
        .select($"qid", $"ccid".as("probe_cell"))
      // per-query ADC lookup table (the q_pq_adc construction)
      val qlut = queries.crossJoin(broadcast(seeds))
        .select($"qid", transform(sequence(lit(1), lit(M)), m =>
          transform($"cents", c =>
            aggregate(
              zip_with(
                slice($"qv", (m - 1) * sub + 1, lit(sub)),
                slice(c.getField("cv"), (m - 1) * sub + 1, lit(sub)),
                (x, y) => (x - y) * (x - y)),
              lit(0.0), (acc, x) => acc + x))).as("lut"))
      val d2Dec = (1 to M).map(m =>
        element_at(element_at($"lut", m),
          (element_at($"codes", m) + 1).cast("int")).cast("decimal(28,10)"))
        .reduce(_ + _)
      val w = Window.partitionBy($"qid").orderBy($"d2s", $"nid")
      codes.join(broadcast(probes),
          $"cell" === $"probe_cell" && $"nid" =!= $"qid")
        .join(broadcast(qlut), "qid")
        .withColumn("d2s", d2Dec)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= TopK)
        .select($"qid", $"nid", $"cell".cast("long").as("cell"),
          Incremental.r4s($"d2s").as("d2"), $"rk")
        .orderBy($"qid", $"rk")
    },
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |           FROM embeddings),
      |cb AS (SELECT * FROM v WHERE vec_id < $KSeeds),
      |cc AS (SELECT * FROM v WHERE vec_id < 10),
      |ca AS (SELECT v.vec_id, c.vec_id AS ccid,
      |              list_sum(list_transform(range(1, ${Dim + 1}), i ->
      |                (v.ve[i] - c.ve[i]) * (v.ve[i] - c.ve[i]))) AS cd2
      |       FROM v CROSS JOIN cc c),
      |cellof AS (SELECT vec_id, ccid AS cell FROM (
      |    SELECT vec_id, ccid,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd2, ccid) AS crk
      |    FROM ca) WHERE crk = 1),
      |d AS (SELECT v.vec_id, m.m, c.vec_id AS cid,
      |             list_sum(list_transform(range(1, 9), i ->
      |               (v.ve[(m.m-1)*8 + i] - c.ve[(m.m-1)*8 + i]) *
      |               (v.ve[(m.m-1)*8 + i] - c.ve[(m.m-1)*8 + i]))) AS d2
      |      FROM v
      |      CROSS JOIN (SELECT UNNEST(range(1, 9)) AS m) m
      |      CROSS JOIN cb c),
      |a AS (SELECT vec_id, m, cid,
      |             ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rk
      |      FROM d),
      |codes AS (SELECT vec_id AS nid, m, cid FROM a WHERE rk = 1),
      |probes AS (SELECT qid, ccid AS probe_cell FROM (
      |    SELECT vec_id AS qid, ccid,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd2, ccid) AS prk
      |    FROM ca WHERE vec_id >= 10 AND vec_id < 30) WHERE prk <= 2),
      |lut AS (SELECT q.vec_id AS qid, m.m, c.vec_id AS cid,
      |               list_sum(list_transform(range(1, 9), i ->
      |                 (q.ve[(m.m-1)*8 + i] - c.ve[(m.m-1)*8 + i]) *
      |                 (q.ve[(m.m-1)*8 + i] - c.ve[(m.m-1)*8 + i]))) AS d2
      |        FROM (SELECT * FROM v WHERE vec_id >= 10 AND vec_id < 30) q
      |        CROSS JOIN (SELECT UNNEST(range(1, 9)) AS m) m
      |        CROSS JOIN cb c),
      |sc AS (SELECT p.qid, c.nid, cf.cell,
      |              SUM(CAST(l.d2 AS DECIMAL(28,10))) AS d2s
      |       FROM codes c
      |       JOIN cellof cf ON cf.vec_id = c.nid
      |       JOIN probes p ON cf.cell = p.probe_cell AND p.qid <> c.nid
      |       JOIN lut l ON l.qid = p.qid AND l.m = c.m AND l.cid = c.cid
      |       GROUP BY 1, 2, 3),
      |r AS (SELECT qid, nid, cell, d2s,
      |             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2s, nid) AS BIGINT) AS rk
      |      FROM sc)
      |SELECT qid, nid, CAST(cell AS BIGINT) AS cell,
      |       CAST(ROUND(d2s, 4) AS DOUBLE) AS d2, rk
      |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)

  /** One logistic-regression gradient step over the embedding store —
    * the distributed training-step shape (the full loop is this step
    * iterated): fixed deterministic weights w_d = ((d·37 mod 21) − 10)
    * / 10 (both engines derive them from the same integers), binary
    * target label > 4, per-row z = w·x as the same fixed-order
    * double chain both engines use for every dot product here,
    * σ = 1/(1+e^(−z)), and grad_d = Σ (σ−y)·x_d / n with the per-term
    * products cast to decimal so the SUM is order-independent (libm
    * exp differs from Java's by ≤1 ulp — ~1e-16 per term against a
    * 1e-4 emission grid). Scale: w is a literal (no broadcast even),
    * one posexplode + two-phase (dim)-keyed aggregate — the classic
    * data-parallel gradient AllReduce. */
  private val logregGrad = QueryDef(
    (s, dir) => {
      import s.implicits._
      val wArr = array((1 to Dim).map(d =>
        lit(((d * 37) % 21 - 10) / 10.0)): _*)
      val emb = Tables.spread(Tables.embeddings(s, dir), "vec_id")
        .select($"vec_id", vcol($"embedding").as("v"),
          when($"label" > 4, 1.0).otherwise(0.0).as("y"))
        .withColumn("z", aggregate(zip_with($"v", wArr, (x, w) => x * w),
          lit(0.0), (acc, t) => acc + t))
        .withColumn("sig", lit(1.0) / (lit(1.0) + exp(-$"z")))
      emb.select($"sig", $"y", posexplode($"v"))
        .groupBy(($"pos" + 1).cast("long").as("pos"))
        .agg(
          Incremental.r4a(sum((($"sig" - $"y") * $"col")
            .cast("decimal(28,10)")), count(lit(1))).as("grad"),
          count(lit(1)).as("n"))
        .orderBy($"pos")
    },
    s"""WITH v AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve,
      |         CASE WHEN label > 4 THEN 1.0 ELSE 0.0 END AS y
      |  FROM embeddings),
      |w AS (SELECT list_transform(range(1, ${Dim + 1}), d ->
      |        CAST((d * 37) % 21 - 10 AS DOUBLE) / 10.0) AS wv),
      |z AS (
      |  SELECT vec_id, ve, y,
      |         1.0 / (1.0 + EXP(-list_sum(list_transform(
      |           range(1, ${Dim + 1}), i -> ve[i] * wv[i])))) AS sig
      |  FROM v CROSS JOIN w),
      |e AS (
      |  SELECT CAST(i.i AS BIGINT) AS pos, (sig - y) * ve[i.i] AS t
      |  FROM z CROSS JOIN (SELECT UNNEST(range(1, ${Dim + 1})) AS i) i)
      |SELECT pos,
      |       FLOOR(CAST(CAST(CAST(ROUND(SUM(CAST(t AS DECIMAL(28,10))), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS grad,
      |       COUNT(*) AS n
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Sparse sign random projection (Achlioptas 2003 JL transform):
    * 64-dim embeddings down to 8 dims via a deterministic ±1 matrix
    * s(d,j) = ((d·31 + j·17) mod 2)·2 − 1 both engines rebuild from
    * integers — the dimensionality-reduction preprocessing step before
    * cheaper ANN / clustering. The projection is a narrow per-row map
    * (the "matrix" is a literal — nothing is even broadcast); emitted
    * per (vec, output-dim) with the same fixed-order dot-product
    * chain as every vector op here. */
  private val randomProjection = QueryDef(
    (s, dir) => {
      import s.implicits._
      val PDim = 8
      val emb = Tables.spread(Tables.embeddings(s, dir), "vec_id")
        .select($"vec_id", vcol($"embedding").as("v"))
      val projs = array((1 to PDim).map { j =>
        val signs = array((1 to Dim).map(d =>
          lit((((d * 31 + j * 17) % 2) * 2 - 1).toDouble)): _*)
        struct(lit(j).cast("long").as("j"),
          aggregate(zip_with($"v", signs, (x, sg) => x * sg),
            lit(0.0), (acc, t) => acc + t).as("p"))
      }: _*)
      emb.select($"vec_id", explode(projs).as("pr"))
        .select($"vec_id", $"pr.j".as("j"), round($"pr.p", 4).as("p_r4"))
        .orderBy($"vec_id", $"j")
    },
    s"""WITH v AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |  FROM embeddings)
      |SELECT vec_id, CAST(j.j AS BIGINT) AS j,
      |       ROUND(list_sum(list_transform(range(1, ${Dim + 1}), d ->
      |         ve[d] * CAST(((d * 31 + j.j * 17) % 2) * 2 - 1 AS DOUBLE))),
      |         4) AS p_r4
      |FROM v CROSS JOIN (SELECT UNNEST(range(1, 9)) AS j) j
      |ORDER BY vec_id, j""".stripMargin)

  /** Retrieval-evaluation metrics over the ANN lineage (the IR eval
    * loop): per held-out query (vec_id < 50), the rank of the first
    * same-label neighbor in the cosine top-10, reciprocal rank and
    * precision@5 — MRR/P@k are THE numbers an embedding-quality
    * dashboard tracks. All metric arithmetic is exact integers
    * (rr_bp = 10⁴ div rank; hits are counts); rank assignment uses the
    * same (cos desc, nid) tie rule as q_sim_topk. Fixture labels are
    * random, so the VALUES read chance — the oracle pins the operator,
    * the metric has nothing to pin (q_knn_classify's situation).
    * Scale: bounded query side broadcasts; store streams once. */
  private val mrrEval = QueryDef(
    (s, dir) => {
      import s.implicits._
      val b0 = base(s, dir)
      val labels = Tables.embeddings(s, dir)
        .select($"vec_id".as("lid"), $"label")
      val q = b0.filter($"vec_id" < 50)
        .join(broadcast(labels), $"vec_id" === $"lid")
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nm".as("qn"),
          $"label".as("qlabel"))
      val cand = b0
        .join(broadcast(labels), $"vec_id" === $"lid")
        .select($"vec_id".as("nid"), $"v".as("nv"), $"nm".as("nn"),
          $"label".as("nlabel"))
      val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
      cand.join(broadcast(q), $"nid" =!= $"qid")
        .withColumn("cos", dot($"qv", $"nv") / ($"qn" * $"nn"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 10)
        .groupBy($"qid", $"qlabel")
        .agg(
          min(when($"nlabel" === $"qlabel", $"rk")).as("first_rel"),
          sum(when($"rk" <= 5 && $"nlabel" === $"qlabel", 1L).otherwise(0L))
            .as("p5_hits"))
        .select($"qid", $"qlabel",
          coalesce($"first_rel", lit(-1L)).as("first_rel_rank"),
          coalesce(expr("10000 div first_rel"), lit(0L)).as("rr_bp"),
          $"p5_hits")
        .orderBy($"qid")
    },
    oracleBase +
    """,
      |lbl AS (SELECT vec_id AS lid, label FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS qid, la.label AS qlabel, b.vec_id AS nid,
      |         lb.label AS nlabel,
      |         list_sum(list_transform(list_zip(a.ve, b.ve), p -> p[1]*p[2]))
      |           / (a.nm * b.nm) AS cos
      |  FROM n a JOIN lbl la ON a.vec_id = la.lid
      |       JOIN n b ON a.vec_id < 50 AND b.vec_id <> a.vec_id
      |       JOIN lbl lb ON b.vec_id = lb.lid),
      |ranked AS (
      |  SELECT qid, qlabel, nlabel,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |           ORDER BY cos DESC, nid) AS BIGINT) AS rk
      |  FROM pairs),
      |agg AS (
      |  SELECT qid, qlabel,
      |         MIN(CASE WHEN nlabel = qlabel THEN rk END) AS first_rel,
      |         CAST(SUM(CASE WHEN rk <= 5 AND nlabel = qlabel
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS p5_hits
      |  FROM ranked WHERE rk <= 10 GROUP BY 1, 2)
      |SELECT qid, qlabel,
      |       COALESCE(first_rel, -1) AS first_rel_rank,
      |       COALESCE(10000 // first_rel, 0) AS rr_bp, p5_hits
      |FROM agg ORDER BY qid""".stripMargin)

  /** Binary nDCG@10 per held-out query — the graded-ranking companion
    * to q_mrr_eval: DCG = Σ over relevant ranks of round(10⁴/log2(1+rk))
    * (each term an exact integer BEFORE summation, so partial-agg order
    * can't drift it), IDCG = the same series over ranks 1..n_rel (the
    * ideal front-loaded ranking), ndcg = DCG·10⁴ div IDCG. Queries with
    * zero relevant neighbors emit 0 by convention. */
  private val ndcgEval = QueryDef(
    (s, dir) => {
      import s.implicits._
      val b0 = base(s, dir)
      val labels = Tables.embeddings(s, dir)
        .select($"vec_id".as("lid"), $"label")
      val q = b0.filter($"vec_id" < 50)
        .join(broadcast(labels), $"vec_id" === $"lid")
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nm".as("qn"),
          $"label".as("qlabel"))
      val cand = b0
        .join(broadcast(labels), $"vec_id" === $"lid")
        .select($"vec_id".as("nid"), $"v".as("nv"), $"nm".as("nn"),
          $"label".as("nlabel"))
      val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
      val gain = round(lit(10000.0) /
        (log($"rk".cast("double") + 1.0) / log(lit(2.0)))).cast("long")
      val ranked = cand.join(broadcast(q), $"nid" =!= $"qid")
        .withColumn("cos", dot($"qv", $"nv") / ($"qn" * $"nn"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 10)
      ranked
        // n_rel as a window col BEFORE the rollup: the ideal DCG sums
        // the SAME gains over ranks 1..n_rel (rank i's gain contributes
        // iff at least i relevant docs exist in the dense 1..10 frame)
        .withColumn("n_rel",
          sum(when($"nlabel" === $"qlabel", 1L).otherwise(0L))
            .over(Window.partitionBy($"qid")))
        .withColumn("gain", gain)
        .groupBy($"qid")
        .agg(
          sum(when($"nlabel" === $"qlabel", $"gain").otherwise(0L)).as("dcg_bp"),
          max($"n_rel").as("n_rel"),
          sum(when($"rk" <= $"n_rel", $"gain").otherwise(0L)).as("idcg_bp"))
        .select($"qid", $"n_rel", $"dcg_bp",
          coalesce(expr(
            "CASE WHEN idcg_bp > 0 THEN (dcg_bp * 10000) div idcg_bp END"),
            lit(0L)).as("ndcg_bp"))
        .orderBy($"qid")
    },
    oracleBase +
    """,
      |lbl AS (SELECT vec_id AS lid, label FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS qid, la.label AS qlabel, b.vec_id AS nid,
      |         lb.label AS nlabel,
      |         list_sum(list_transform(list_zip(a.ve, b.ve), p -> p[1]*p[2]))
      |           / (a.nm * b.nm) AS cos
      |  FROM n a JOIN lbl la ON a.vec_id = la.lid
      |       JOIN n b ON a.vec_id < 50 AND b.vec_id <> a.vec_id
      |       JOIN lbl lb ON b.vec_id = lb.lid),
      |ranked AS (
      |  SELECT qid, qlabel, nlabel,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |           ORDER BY cos DESC, nid) AS BIGINT) AS rk
      |  FROM pairs QUALIFY rk <= 10),
      |g AS (
      |  SELECT qid, rk, nlabel = qlabel AS rel,
      |         CAST(ROUND(10000.0 / (LN(rk + 1.0) / LN(2.0))) AS BIGINT)
      |           AS gain,
      |         SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY qid) AS n_rel
      |  FROM ranked)
      |SELECT qid, CAST(MAX(n_rel) AS BIGINT) AS n_rel,
      |       CAST(SUM(CASE WHEN rel THEN gain ELSE 0 END) AS BIGINT)
      |         AS dcg_bp,
      |       CAST(COALESCE(CASE WHEN SUM(CASE WHEN rk <= n_rel THEN gain
      |                              ELSE 0 END) > 0
      |           THEN (SUM(CASE WHEN rel THEN gain ELSE 0 END) * 10000)
      |                // SUM(CASE WHEN rk <= n_rel THEN gain ELSE 0 END)
      |           END, 0) AS BIGINT) AS ndcg_bp
      |FROM g GROUP BY qid ORDER BY qid""".stripMargin)

  /** Maximal Marginal Relevance diversified re-ranking (Carbonell &
    * Goldstein 1998) — the retrieval-diversification step between ANN
    * candidate generation and final serving: from each query's top-6
    * cosine pool, select 3 items iteratively, step 1 = argmax
    * relevance, steps 2-3 = argmax λ·rel − (1−λ)·max sim to the
    * already-selected set (λ = 0.7; ties → lower id). A near-duplicate
    * of an already-picked item is punished by its own high similarity —
    * the property that turns a redundant top-k into a diverse one.
    *
    * Determinism: rel and sim come from the same dot/norm chains every
    * ANN query already oracle-replays; the MMR combine is one
    * identically-written double expression per comparison, and both
    * engines run the IDENTICAL unrolled selection (engine: 3-step
    * DataFrame loop; oracle: 3 chained CTEs) with id tie-breaks.
    *
    * Scale: the pool is top-k per query (WindowGroupLimit) — MMR
    * iterations touch only |queries|·k rows and the k² per-query sim
    * matrix, never the store; the store-side cost stays in the ANN
    * candidate stage where IVF/LSH already bound it. */
  private val mmrDiversify = QueryDef(
    (s, dir) => {
      import s.implicits._
      val Lambda = 0.7
      val b0 = base(s, dir)
      val q = b0.filter($"vec_id" < 20)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nm".as("qn"))
      val cand = b0.select($"vec_id".as("nid"), $"v".as("nv"), $"nm".as("nn"))
      val wRel = Window.partitionBy($"qid").orderBy($"rel".desc, $"nid")
      // localCheckpoint the tiny pool/sim frames (|q|·k and |q|·k²
      // rows): the 3-step loop references them ~2× per step, and
      // without truncation each step re-runs the store-wide scoring
      // scan — measured 3.0 s → ~1 s at sf0.1
      val pool = cand.join(broadcast(q), $"nid" =!= $"qid")
        .withColumn("rel", dot($"qv", $"nv") / ($"qn" * $"nn"))
        .withColumn("rk", row_number().over(wRel).cast("long"))
        .filter($"rk" <= 6)
        .select($"qid", $"nid", $"nv", $"nn", $"rel")
        .localCheckpoint(eager = true)
      val sims = pool.select($"qid", $"nid".as("ca"), $"nv".as("va"), $"nn".as("na"))
        .join(pool.select($"qid".as("q2"), $"nid".as("cb"), $"nv".as("vb"),
          $"nn".as("nb")), $"qid" === $"q2" && $"ca" =!= $"cb")
        .select($"qid", $"ca", $"cb", (dot($"va", $"vb") / ($"na" * $"nb")).as("sim"))
        .localCheckpoint(eager = true)
      val w1 = Window.partitionBy($"qid").orderBy($"rel".desc, $"nid")
      var result = pool
        .withColumn("rn", row_number().over(w1))
        .filter($"rn" === 1)
        .select($"qid", $"nid", lit(1L).as("step"), $"rel".as("mmr"))
      for (t <- 2 to 3) {
        val remaining = pool.select($"qid", $"nid", $"rel")
          .join(result.select($"qid", $"nid"), Seq("qid", "nid"), "left_anti")
        val wStep = Window.partitionBy($"qid").orderBy($"mmr".desc, $"nid")
        val pick = remaining
          .join(result.select($"qid", $"nid".as("sel")), "qid")
          .join(sims.withColumnRenamed("qid", "sqid"),
            $"sqid" === $"qid" && $"ca" === $"nid" && $"cb" === $"sel")
          .groupBy($"qid", $"nid", $"rel")
          .agg(max($"sim").as("ms"))
          .withColumn("mmr", lit(Lambda) * $"rel" - lit(1.0 - Lambda) * $"ms")
          .withColumn("rn", row_number().over(wStep))
          .filter($"rn" === 1)
          .select($"qid", $"nid", lit(t.toLong).as("step"), $"mmr")
        result = result.unionByName(pick)
      }
      result
        .select($"qid", $"step", $"nid", round($"mmr", 4).as("mmr"))
        .orderBy($"qid", $"step")
    },
    oracleBase +
    """,
      |q AS (SELECT vec_id AS qid, ve AS qv, nm AS qn FROM n WHERE vec_id < 20),
      |rel AS (
      |  SELECT q.qid, b.vec_id AS nid,
      |         list_sum(list_transform(list_zip(q.qv, b.ve), p -> p[1]*p[2]))
      |           / (q.qn * b.nm) AS rel
      |  FROM q JOIN n b ON b.vec_id <> q.qid),
      |pool AS (
      |  SELECT qid, nid, rel FROM (
      |    SELECT qid, nid, rel,
      |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rk
      |    FROM rel) WHERE rk <= 6),
      |sims AS (
      |  SELECT p.qid, p.nid AS ca, r.nid AS cb,
      |         list_sum(list_transform(list_zip(a.ve, b.ve), p2 -> p2[1]*p2[2]))
      |           / (a.nm * b.nm) AS sim
      |  FROM pool p JOIN pool r ON p.qid = r.qid AND p.nid <> r.nid
      |  JOIN n a ON p.nid = a.vec_id JOIN n b ON r.nid = b.vec_id),
      |s1 AS (
      |  SELECT qid, nid, 1 AS step, rel AS mmr FROM (
      |    SELECT qid, nid, rel,
      |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rn
      |    FROM pool) WHERE rn = 1),
      |m2 AS (
      |  SELECT p.qid, p.nid, p.rel, MAX(s.sim) AS ms
      |  FROM pool p JOIN s1 ON p.qid = s1.qid
      |  JOIN sims s ON s.qid = p.qid AND s.ca = p.nid AND s.cb = s1.nid
      |  WHERE NOT EXISTS (SELECT 1 FROM s1 x
      |                    WHERE x.qid = p.qid AND x.nid = p.nid)
      |  GROUP BY 1, 2, 3),
      |s2 AS (
      |  SELECT qid, nid, 2 AS step, mmr FROM (
      |    SELECT qid, nid, 0.7 * rel - 0.3 * ms AS mmr,
      |           ROW_NUMBER() OVER (PARTITION BY qid
      |             ORDER BY 0.7 * rel - 0.3 * ms DESC, nid) AS rn
      |    FROM m2) WHERE rn = 1),
      |sel2 AS (SELECT qid, nid FROM s1 UNION ALL SELECT qid, nid FROM s2),
      |m3 AS (
      |  SELECT p.qid, p.nid, p.rel, MAX(s.sim) AS ms
      |  FROM pool p JOIN sel2 ON p.qid = sel2.qid
      |  JOIN sims s ON s.qid = p.qid AND s.ca = p.nid AND s.cb = sel2.nid
      |  WHERE NOT EXISTS (SELECT 1 FROM sel2 x
      |                    WHERE x.qid = p.qid AND x.nid = p.nid)
      |  GROUP BY 1, 2, 3),
      |s3 AS (
      |  SELECT qid, nid, 3 AS step, mmr FROM (
      |    SELECT qid, nid, 0.7 * rel - 0.3 * ms AS mmr,
      |           ROW_NUMBER() OVER (PARTITION BY qid
      |             ORDER BY 0.7 * rel - 0.3 * ms DESC, nid) AS rn
      |    FROM m3) WHERE rn = 1),
      |allsel AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |           UNION ALL SELECT * FROM s3)
      |SELECT qid, CAST(step AS BIGINT) AS step, nid,
      |       ROUND(mmr, 4) AS mmr
      |FROM allsel ORDER BY qid, step""".stripMargin)

  /** One PCA power-iteration step — the distributed linear-algebra
    * primitive that completes the ML-step family (q_kmeans_step,
    * q_logreg_grad, q_pagerank_step): u = Xᵀ(X·v₀) over the embedding
    * matrix X, the matvec pair every power/Lanczos solver repeats to
    * reach the leading right singular vector. v₀ is the exact uniform
    * seed 1/8·𝟙 (1/√64 — binary-exact, both engines multiply the same
    * double), scores sᵢ = eᵢ·v₀ stay in sequential-fold double (the
    * q_media_features cos parity), and the recombination Σᵢ sᵢ·eᵢⱼ is
    * a per-dimension decimal-exact sum (the q_kmeans_step centroid
    * discipline).
    *
    * Scale: one narrow pass computes sᵢ per row (no shuffle), one
    * posexplode + 64-key two-phase aggregate recombines — the matrix
    * never materializes and nothing row-sized shuffles; each further
    * iteration is the same two jobs with v₀ broadcast (here v₀ is a
    * literal, so the step is fully self-contained). */
  private val pcaPower = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.spread(Tables.embeddings(s, dir), "vec_id")
        .select(vcol($"embedding").as("v"))
        .withColumn("s",
          aggregate($"v", lit(0.0), (acc, x) => acc + x) * lit(0.125))
        .select($"s", posexplode($"v"))
        .groupBy(($"pos" + 1).cast("long").as("pos"))
        .agg(Incremental.r4s(sum(($"s" * $"col").cast("decimal(28,10)")))
          .as("comp"),
          count(lit(1)).as("n"))
        .orderBy($"pos")
    },
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |           FROM embeddings),
      |s AS (SELECT vec_id, ve, list_sum(ve) * 0.125 AS s FROM v),
      |e AS (SELECT CAST(i.i AS BIGINT) AS pos, s * ve[i.i] AS x
      |      FROM s CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) i)
      |SELECT pos, CAST(ROUND(SUM(CAST(x AS DECIMAL(28,10))), 4) AS DOUBLE) AS comp,
      |       COUNT(*) AS n
      |FROM e GROUP BY 1 ORDER BY pos""".stripMargin)

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009)
    * — the RAG-era fusion of the two retrieval arms this engine already
    * serves: the LEXICAL arm ranks documents by exact-decimal BM25
    * ([[TextOps.bm25Scores]], terms "join"/"vector"/"dup") and the
    * SEMANTIC arm ranks them by cosine against the vec_id-0 query
    * embedding (doc_id ≡ vec_id in the fixture, by construction). Each
    * arm keeps its global top-100 (total order: score desc, id), and
    * RRF fuses with k = 60:
    *   rrf = Σ_arm round(10⁶ / (60 + rank_arm)),  absent arm → 0
    * — each arm's term rounded to an exact integer FIRST (the
    * q_link_predict AA discipline) so the sum is order-independent and
    * engine-exact; 10⁶/(60+r) never lands on a .5 boundary except
    * r = 68 (7812.5), where Spark HALF_UP and DuckDB half-away agree
    * for positive values. Top-20 by (rrf desc, doc_id).
    *
    * Determinism: BM25 ranks compare exact decimals; cosine ranks ride
    * the q_sim_topk-proven identical float64 chain; ranks and rrf are
    * integers thereafter. A doc missing from one arm keeps a NULL rank
    * in that column (both engines) and contributes 0 to the fusion.
    *
    * Scale: each arm is TakeOrderedAndProject(100) — no global sort,
    * no rank computed over unbounded data; the rank window then runs
    * over a ≤100-row bounded set (single partition by construction,
    * the 1-row-broadcast class of exception). The fusion is a
    * full-outer join of two ≤100-row frames (AQE broadcasts), so at
    * 100 TB the only heavy work is the two arms' own scans — each
    * already audited under q_bm25_topk / q_sim_topk. */
  private val hybridRrf = QueryDef(
    (s, dir) => {
      import s.implicits._
      val b0 = base(s, dir)
      val q = b0.filter($"vec_id" === 0)
        .select($"v".as("qv"), $"nm".as("qn"))
      val semTop = b0.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(q))
        .select($"vec_id".as("doc_id"),
          (dot($"qv", $"v") / ($"qn" * $"nm")).as("cos"))
        .orderBy($"cos".desc, $"doc_id").limit(100)
      val semRank = semTop.withColumn("r_sem",
          row_number().over(Window.orderBy($"cos".desc, $"doc_id"))
            .cast("long"))
        .select($"doc_id", $"r_sem")
      val lexTop = TextOps.bm25Scores(s, dir)
        .orderBy($"bm25x".desc, $"doc_id").limit(100)
      val lexRank = lexTop.withColumn("r_lex",
          row_number().over(Window.orderBy($"bm25x".desc, $"doc_id"))
            .cast("long"))
        .select($"doc_id", $"r_lex")
      def term(c: Column): Column = coalesce(
        round(lit(1000000.0) / (lit(60L) + c), 0).cast("long"), lit(0L))
      lexRank.join(semRank, Seq("doc_id"), "full_outer")
        .select($"doc_id", $"r_lex", $"r_sem",
          (term($"r_lex") + term($"r_sem")).as("rrf"))
        .orderBy($"rrf".desc, $"doc_id").limit(20)
    },
    oracleBase + ",\n" + TextOps.oracleBm25Ctes + """,
      |qv AS (SELECT ve, nm FROM n WHERE vec_id = 0),
      |semall AS (SELECT n.vec_id AS doc_id,
      |                  list_sum(list_transform(list_zip(n.ve, qv.ve),
      |                                          p -> p[1]*p[2]))
      |                    / (n.nm * qv.nm) AS cos
      |           FROM n CROSS JOIN qv WHERE n.vec_id <> 0),
      |sem AS (SELECT doc_id, r_sem FROM (
      |          SELECT doc_id, CAST(ROW_NUMBER() OVER (
      |            ORDER BY cos DESC, doc_id) AS BIGINT) AS r_sem
      |          FROM semall) WHERE r_sem <= 100),
      |lex AS (SELECT doc_id, r_lex FROM (
      |          SELECT doc_id, CAST(ROW_NUMBER() OVER (
      |            ORDER BY bm25x DESC, doc_id) AS BIGINT) AS r_lex
      |          FROM lexall) WHERE r_lex <= 100),
      |f AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
      |             r_lex, r_sem,
      |             COALESCE(CAST(ROUND(1000000.0 / (60 + r_lex))
      |                           AS BIGINT), 0)
      |           + COALESCE(CAST(ROUND(1000000.0 / (60 + r_sem))
      |                           AS BIGINT), 0) AS rrf
      |      FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id)
      |SELECT doc_id, r_lex, r_sem, rrf FROM f
      |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin)

  val defs: Seq[(String, QueryDef)] = Seq(
    "q_hybrid_rrf" -> hybridRrf,
    "q_embedding_drift" -> embeddingDrift,
    "q_pca_power" -> pcaPower,
    "q_semantic_clusters" -> semanticClusters,
    "q_mmr_diversify" -> mmrDiversify,
    "q_mrr_eval" -> mrrEval,
    "q_ndcg_eval" -> ndcgEval,
    "q_logreg_grad" -> logregGrad,
    "q_random_projection" -> randomProjection,
    "q_ivfpq" -> ivfPq,
    "q_vec_pq" -> vecPq,
    "q_pq_adc" -> pqAdc,
    "q_sim_topk" -> simTopk,
    "q_knn_classify" -> knnClassify,
    "q_centroid_classify" -> centroidClassify,
    "q_dedup_embed" -> dedupEmbed,
    "q_sim_ivf" -> simIvf,
    "q_sim_lsh" -> simLsh,
    "q_vec_centroid" -> vecCentroid,
    "q_vec_quantize" -> vecQuantize,
    "q_kmeans_step" -> kmeansStep)
}
