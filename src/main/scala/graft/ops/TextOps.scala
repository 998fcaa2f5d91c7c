package graft.ops

import graft.QueryDef
import graft.functions.Sketches
import graft.util.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` corpus (SURVEY.md §2.9):
  * tokenize → explode → word counts (the UDTF surface via built-in
  * Generators), exact dedup, token counting, and quality scoring.
  * The MinHash/SimHash/LSH near-dup family is in TextDedup.scala.
  *
  * Scale notes (100 TB): tokenize+explode is narrow (no shuffle);
  * the word-count groupBy shuffles only (lang, word) partial counts.
  * Exact dedup partitions by a hash of the full text — at 100 TB,
  * group on a 128-bit text fingerprint instead of the raw text to keep
  * shuffle rows small (both forms shown below; the query uses the
  * window form the oracle can mirror exactly).
  */
object TextOps {

  /** Persisted intermediates memoized per (session, dir) — same
    * discipline as TextDedup's lineage memo: a DataFrame referenced
    * N times in one plan tree re-executes its lineage N times unless
    * persisted, and per-invocation persist() calls would re-register
    * with the CacheManager. */
  private val lineages = graft.util.SessionMemo.lineages("text")
  private def memoized(s: org.apache.spark.sql.SparkSession, dir: String,
      key: String)(build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    lineages(s, s"$key|$dir")(build)

  /** Word frequencies per language — split + explode (UDTF surface) +
    * grouped counts; top-100 by (lang, count desc, word). */
  private val textStats = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"lang", explode(split($"text", " ")).as("word"))
        .groupBy($"lang", $"word")
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"n".desc, $"word")
        .limit(100)
    },
    """SELECT lang, w AS word, COUNT(*) AS n
      |FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY lang, w
      |ORDER BY lang, n DESC, word LIMIT 100""".stripMargin)

  /** Exact dedup: deterministic keep-lowest-doc_id per identical text
    * (SURVEY.md §2.9). row_number over the text partition — the oracle
    * mirrors the exact same rule. */
  private val dedupExact = QueryDef(
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"text").orderBy($"doc_id")
      Tables.documents(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"doc_id", $"lang", $"source", $"n_chars")
        .orderBy($"doc_id")
    },
    """SELECT doc_id, lang, source, n_chars FROM (
      |  SELECT doc_id, lang, source, n_chars,
      |         ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      |  FROM documents)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin)

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (runs of word chars / digits / single non-space symbols). */
  private val textTokens = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.spread(Tables.documents(s, dir), "doc_id")
        .select(
          $"doc_id",
          size(split($"text", " ")).cast("long").as("ws_tokens"),
          size(regexp_extract_all($"text", lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
            .cast("long").as("re_tokens"),
          length($"text").cast("long").as("n_chars_m"))
        .orderBy($"doc_id")
    },
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS re_tokens,
      |       CAST(length(text) AS BIGINT) AS n_chars_m
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Quality scoring: length / token stats / stopword ratio / distinct-word
    * ratio → a deterministic composite score (training-data filter shape).
    *
    * Every emitted ratio is a ratio of COUNTS — an exact rational — so
    * the 4-decimal rounding runs entirely in BIGINT (half-up via
    * `(2a·10⁴ + b) div 2b`) with ONE final IEEE division by 1e4: the
    * r4a discipline. Double ROUND diverged between the engines at an
    * exact .00005 boundary at sf0.1 (quality .49875 → Spark .4988,
    * DuckDB .4987 — the binary value sits just under the half), which
    * the sf0.01 fixture never exposed. The composite collapses to one
    * rational too: min(n,20)·(n−stop)·distinct / (20·n²). */
  private val textQuality = QueryDef(
    (s, dir) => {
      import s.implicits._
      val stop = Seq("the", "a", "of", "and", "to", "in", "is")
      val words = split($"text", " ")
      val nL = size(words).cast("long")
      val stopL = size(filter(words, w => w.isInCollection(stop))).cast("long")
      val distL = size(array_distinct(words)).cast("long")
      // exact half-up round(a/b, 4) for BIGINT a ≥ 0, b > 0: integer
      // arithmetic to the 1e-4 grid, one IEEE division at the end
      def ratio4(a: Column, b: Column): Column = {
        val num = a * lit(20000L) + b
        val den = b * lit(2L)
        (((num - pmod(num, den)) / den).cast("long").cast("double") / lit(1e4))
      }
      Tables.spread(Tables.documents(s, dir), "doc_id")
        .select(
          $"doc_id", $"lang",
          nL.as("n_tokens"),
          ratio4(length($"text").cast("long"), nL).as("avg_tok_len"),
          ratio4(stopL, nL).as("stopword_ratio"),
          ratio4(distL, nL).as("distinct_ratio"),
          ratio4(least(nL, lit(20L)) * (nL - stopL) * distL,
            nL * nL * lit(20L)).as("quality"))
        .orderBy($"doc_id")
    },
    """WITH b AS (
      |  SELECT doc_id, lang, text,
      |         string_split(text, ' ') AS words,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, text, n_tok,
      |         CAST(len(list_filter(words,
      |           w -> w IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop,
      |         CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct
      |  FROM b)
      |SELECT doc_id, lang, n_tok AS n_tokens,
      |       CAST((2 * CAST(length(text) AS BIGINT) * 10000 + n_tok)
      |            // (2 * n_tok) AS DOUBLE) / 1e4 AS avg_tok_len,
      |       CAST((2 * n_stop * 10000 + n_tok) // (2 * n_tok) AS DOUBLE) / 1e4
      |         AS stopword_ratio,
      |       CAST((2 * n_distinct * 10000 + n_tok) // (2 * n_tok) AS DOUBLE) / 1e4
      |         AS distinct_ratio,
      |       CAST((2 * least(n_tok, 20) * (n_tok - n_stop) * n_distinct * 10000
      |             + 20 * n_tok * n_tok)
      |            // (2 * 20 * n_tok * n_tok) AS DOUBLE) / 1e4 AS quality
      |FROM c ORDER BY doc_id""".stripMargin)

  /** Language ID via character-trigram profiles (SURVEY.md §2.9 "n-gram
    * heuristic"): build per-language trigram counts from a training split
    * (doc_id % 5 != 0), score each held-out doc by Σ tf(tg)·profile(lang,
    * tg) — all integer arithmetic, so both engines agree exactly — and
    * predict the argmax language (ties → lang asc). On this synthetic
    * corpus the vocabularies are identical across languages, so accuracy
    * is chance; the oracle checks the classifier's determinism, not its
    * skill. Scale: profile is |langs × trigrams| — tiny — and broadcast;
    * docs never shuffle raw text, only (doc, trigram) counts. */
  /** Held-out prediction frame (doc_id, lang, pred_lang, score) shared
    * by q_lang_id (row dump) and q_lang_confusion (evaluation) —
    * memoized like the other multi-consumer lineages (hashedShingles /
    * lshCandidates / the n-gram models): the trigram explode + two
    * aggregations + profile join otherwise re-run once per consumer. */
  private def langPredictions(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    memoized(s, dir, "langPredictions") {
      import s.implicits._
      // trigrams packed into int64 (base-1021 codepoint arithmetic —
      // injective below codepoint 1021, ASCII corpus; the dedup_ngram
      // trick): the (doc, trigram)-count shuffle and the profile join
      // key carry primitive longs instead of 3-char strings, and the
      // score is invariant under any bijection of the trigram keys.
      // Fused codegen kernel (bit-identical to the HOF chain, which
      // evaluates 3 interpreted substr/ascii calls per position)
      val triCol = call_function("graft_char3grams", $"text")
      // Each branch gets its NATURAL aggregation key (r6 TriageBench
      // A/B: 1.53 vs 1.97 s median interleaved at sf0.1): the train
      // split (80% of docs) collapses straight to (lang, trigram) —
      // the profile's key space is tiny, so map-side partial
      // aggregation eliminates almost the whole shuffle — and only the
      // 20% test split pays the fine-grained (doc, lang, trigram)
      // shuffle. The previous single-explode/ReuseExchange shape
      // pushed the FULL corpus through the (doc,lang,tg) exchange,
      // which map-side combine barely compresses. Explode CPU runs
      // twice, but it's a codegen kernel — shuffle bytes dominate, and
      // the same holds harder at 100 TB (profile build is pure
      // map-side reduction; only held-out docs shuffle fine-grained).
      val docs = Tables.spread(Tables.documents(s, dir), "doc_id")
      val prof = docs.filter($"doc_id" % 5 =!= 0)
        .select($"lang".as("plang"), explode(triCol).as("tg"))
        .groupBy($"plang", $"tg").agg(count(lit(1)).as("pc"))
      val tf = docs.filter($"doc_id" % 5 === 0)
        .select($"doc_id", $"lang", explode(triCol).as("tg"))
        .groupBy($"doc_id", $"lang", $"tg").agg(count(lit(1)).as("tf"))
      val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"plang")
      tf.join(broadcast(prof), "tg")
        .groupBy($"doc_id", $"lang", $"plang")
        .agg(sum($"tf" * $"pc").as("score"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"doc_id", $"lang", $"plang".as("pred_lang"), $"score")
    }

  /** Shared oracle CTE chain ending in `picked` (rn=1 rows). */
  private val langSqlCtes =
    """WITH tri AS (
      |  SELECT doc_id, lang,
      |         (CAST(ascii(substring(text, i.i, 1)) AS BIGINT) * 1021
      |          + ascii(substring(text, i.i+1, 1))) * 1021
      |          + ascii(substring(text, i.i+2, 1)) AS tg
      |  FROM documents CROSS JOIN (SELECT UNNEST(range(1, 1000)) AS i) i
      |  WHERE i.i <= greatest(length(text) - 2, 1)),
      |prof AS (SELECT lang AS plang, tg, COUNT(*) AS pc
      |         FROM tri WHERE doc_id % 5 != 0 GROUP BY 1, 2),
      |tf AS (SELECT doc_id, lang, tg, COUNT(*) AS tf
      |       FROM tri WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT t.doc_id, t.lang, p.plang, CAST(SUM(t.tf * p.pc) AS BIGINT) AS score
      |  FROM tf t JOIN prof p USING (tg) GROUP BY 1, 2, 3),
      |picked AS (
      |  SELECT doc_id, lang, plang AS pred_lang, score FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |                                 ORDER BY score DESC, plang) AS rn
      |    FROM scored)
      |  WHERE rn = 1)""".stripMargin

  private val langId = QueryDef(
    (s, dir) => {
      import s.implicits._
      langPredictions(s, dir).orderBy($"doc_id")
    },
    langSqlCtes +
      "\nSELECT doc_id, lang, pred_lang, score FROM picked ORDER BY doc_id")

  /** Classifier calibration / reliability table — the eval member the
    * confusion matrix (q_lang_confusion: WHERE the model errs) and
    * MRR/nDCG (ranking quality) don't cover: does a HIGHER score mean
    * a MORE-LIKELY-CORRECT prediction? The held-out predictions split
    * into score deciles (ntile(10) over the TOTAL order (score desc,
    * doc_id) — the rank-based reliability curve, the right form for an
    * uncalibrated integer score) and each bin reports its exact
    * basis-point accuracy plus the score range — a filter pipeline
    * reads this table to pick the score cutoff that buys a target
    * precision. All-integer arithmetic (counts, floor-div bp, min/max
    * of integer scores).
    *
    * Scale: rides the memoized langPredictions lineage; the ntile
    * window orders |held-out docs| rows — bounded by the eval split,
    * and at 100 TB the exact decile swaps for approx-quantile score
    * cuts exactly as q_perplexity_bucket documents. The census is a
    * 10-row two-phase aggregate. */
  private val calibrationBins = QueryDef(
    (s, dir) => {
      import s.implicits._
      val w = Window.orderBy($"score".desc, $"doc_id")
      langPredictions(s, dir)
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n"),
          sum(($"pred_lang" === $"lang").cast("long")).as("n_correct"),
          max($"score").as("score_hi"),
          min($"score").as("score_lo"))
        .select($"decile", $"n", $"n_correct",
          expr("n_correct * 10000 div n").as("acc_bp"),
          $"score_hi", $"score_lo")
        .orderBy($"decile")
    },
    langSqlCtes + """
      |, b AS (
      |  SELECT lang, pred_lang, score,
      |         CAST(NTILE(10) OVER (ORDER BY score DESC, doc_id)
      |              AS BIGINT) AS decile
      |  FROM picked)
      |SELECT decile, COUNT(*) AS n,
      |       CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_correct,
      |       CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
      |            * 10000 // COUNT(*) AS BIGINT) AS acc_bp,
      |       MAX(score) AS score_hi, MIN(score) AS score_lo
      |FROM b GROUP BY decile ORDER BY decile""".stripMargin)

  /** Classifier-evaluation census over the held-out split: the
    * (true lang × predicted lang) confusion matrix with exact
    * basis-point recall per true-lang row — the eval table a curation
    * pipeline reads before trusting a filter model's routing. Shares
    * the prediction lineage with q_lang_id; the matrix is a tiny
    * |langs|² two-phase aggregate on top, and the per-row total
    * re-aggregates the same counts (no second pass over text). */
  private val langConfusion = QueryDef(
    (s, dir) => {
      import s.implicits._
      val preds = langPredictions(s, dir)
      val wRow = Window.partitionBy($"lang")
      preds.groupBy($"lang", $"pred_lang")
        .agg(count(lit(1)).as("n"))
        .withColumn("row_total", sum($"n").over(wRow))
        .select($"lang", $"pred_lang", $"n",
          // integer basis points: Column `/` on longs is double division,
          // so floor+cast — exact for n·10⁴ < 2⁵³
          floor($"n" * 10000L / $"row_total").cast("long").as("recall_bp"))
        .orderBy($"lang", $"pred_lang")
    },
    langSqlCtes +
      """
      |, cm AS (SELECT lang, pred_lang, COUNT(*) AS n FROM picked GROUP BY 1, 2)
      |SELECT lang, pred_lang, n,
      |       CAST(n * 10000 // SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS recall_bp
      |FROM cm ORDER BY lang, pred_lang""".stripMargin)

  /** Edit-distance near-dup scoring (SURVEY.md §2.9 dedup family):
    * exact Levenshtein over 40-char prefixes of a bounded doc subset —
    * integer-exact on both engines. Scale: edit distance is O(n·m) per
    * pair, so it only ever runs as a verify stage on a pre-filtered
    * candidate set (here: the bounded id range stands in for LSH
    * candidates). */
  private val editDistance = QueryDef(
    (s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir).filter($"doc_id" < 40)
        .select($"doc_id", substring($"text", 1, 40).as("t"))
      val a = d.select($"doc_id".as("da"), $"t".as("ta"))
      val b = d.select($"doc_id".as("db"), $"t".as("tb"))
      a.join(b, $"da" < $"db")
        .select($"da", $"db", levenshtein($"ta", $"tb").cast("long").as("dist"))
        .filter($"dist" <= 25)
        .orderBy($"da", $"db")
    },
    """WITH d AS (SELECT doc_id, substring(text, 1, 40) AS t
      |           FROM documents WHERE doc_id < 40)
      |SELECT a.doc_id AS da, b.doc_id AS db,
      |       CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
      |FROM d a JOIN d b ON a.doc_id < b.doc_id
      |WHERE levenshtein(a.t, b.t) <= 25
      |ORDER BY da, db""".stripMargin)

  /** TF-IDF term scoring: tf = in-doc count, df = docs containing the
    * word, idf = ln(N/df) — integer counts everywhere except the final
    * rounded score, identical ln/round arithmetic on both engines.
    * Scale: one narrow explode + two keyed aggregations; df is a
    * |vocab|-row broadcast join. Top-100 by (score desc, doc, word). */
  private val tfidf = QueryDef(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.spread(Tables.documents(s, dir), "doc_id")
      val nDocs = docs.select(countDistinct($"doc_id").as("n_docs"))
      val words = docs.select($"doc_id", explode(split($"text", " ")).as("word"))
      val tf = words.groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
      // df derived FROM tf — tf's (doc, word) rows are already distinct,
      // so the second corpus explode + distinct shuffle is redundant
      val df_ = tf.groupBy($"word").agg(count(lit(1)).as("df"))
      tf.join(broadcast(df_), "word")
        .crossJoin(broadcast(nDocs))
        .select($"doc_id", $"word", $"tf", $"df",
          round($"tf" * log($"n_docs".cast("double") / $"df".cast("double")), 4)
            .as("tfidf"))
        .orderBy($"tfidf".desc, $"doc_id", $"word")
        .limit(100)
    },
    """WITH words AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2),
      |df AS (SELECT word, COUNT(*) AS df
      |       FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
      |SELECT doc_id, word, tf, df,
      |       ROUND(tf * LN(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 4) AS tfidf
      |FROM tf JOIN df USING (word) CROSS JOIN n
      |ORDER BY tfidf DESC, doc_id, word LIMIT 100""".stripMargin)

  /** Deterministic stratified sampling: keep k docs per language,
    * chosen by a replayable integer hash order (doc_id·2654435761 mod
    * 2^31 — Knuth multiplicative; exact int64 arithmetic both engines).
    * The training-data downsampling shape: engine-native `sampleBy` is
    * seed-dependent and not oracle-replayable, this is — and at 100 TB
    * it's one window per stratum, no global sort. */
  private val sampleStratified = QueryDef(
    (s, dir) => {
      import s.implicits._
      // doc_id is reduced mod P BEFORE the Knuth multiply so the
      // product stays under 2^63 for ANY doc_id (unguarded, ids above
      // ~3.5e9 — the 100 TB regime — overflow: Spark wraps negative
      // while DuckDB errors)
      val h = (($"doc_id" % 1000000007L) * 2654435761L) % 2147483648L
      val w = Window.partitionBy($"lang").orderBy($"h", $"doc_id")
      Tables.documents(s, dir)
        .select($"doc_id", $"lang", $"source", h.as("h"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn" <= 20)
        .select($"doc_id", $"lang", $"source", $"rn")
        .orderBy($"lang", $"rn")
    },
    """SELECT doc_id, lang, source, rn FROM (
      |  SELECT doc_id, lang, source,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |           ORDER BY ((doc_id % 1000000007) * 2654435761) % 2147483648, doc_id) AS BIGINT) AS rn
      |  FROM documents)
      |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin)

  /** Okapi BM25 top-k retrieval (SURVEY.md §2.9 text-analysis family —
    * the LEXICAL-retrieval dual of the embedding ANN tier): score every
    * document against a fixed query-term set with the classic
    * doc-length-normalized formula (k1 = 1.2, b = 0.75) and keep the
    * top-20. The rare term ("dup", df ≈ 5% of docs) dominates via IDF —
    * exactly the behavior BM25 exists for.
    *
    * IDF is the Lucene/+1 variant, ln(1 + (D−df+0.5)/(df+0.5)) =
    * ln((2D+2)/(2df+1)) — always positive, avoiding the classic
    * formula's negative scores for terms in more than half the corpus
    * (which would let a MISSING common term outrank a present one).
    *
    * Determinism (the q_doc_logprob/q_dsir_weight ln discipline): with
    * k1 = 6/5 and b = 3/4, multiplying the tf-normalization through by
    * 10·T (T = total corpus tokens) makes BOTH operands exact BIGINTs —
    *   tf_norm = 22·T·tf / (10·T·tf + 3·T + 9·dl·D)
    * — and the IDF operands (2D+2)/(2df+1) are exact ints too, so
    * each per-term score is ONE identically-written double chain
    * (ln → mul → div) on integer-exact inputs, cast to decimal(28,10);
    * the per-doc sum is exact decimal and rounds half-up identically.
    *
    * Scale: the query-term list is a broadcast IN-filter applied AT the
    * explode, so the (doc, term) shuffle carries only matching tokens —
    * never the corpus; dl is a map-side width-2 projection; df and the
    * (T, D) totals are a 3-row broadcast and a 1-row cross join; the
    * final per-doc agg is two-phase and TakeOrderedAndProject keeps the
    * top-20 without a global sort. */
  /** Shared BM25 scoring lineage (exact-decimal, pre-rounding): per-doc
    * (doc_id, n_hits, bm25x) over the fixed query-term set, where bm25x
    * is the EXACT decimal(28,10) per-term sum described on [[bm25TopK]]
    * — the rank-grade value [[bm25TopK]] rounds for presentation and
    * q_hybrid_rrf (VectorOps) ranks on directly. */
  private[ops] def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = Seq("join", "vector", "dup")
    val docs = Tables.spread(Tables.documents(s, dir), "doc_id")
    val dl = docs.select($"doc_id",
      size(split($"text", " ")).cast("long").as("dl"))
    val totals = dl.agg(sum($"dl").as("t"), count(lit(1)).as("nd"))
    val tf = docs
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .filter($"word".isInCollection(terms))
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy($"word").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df_), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .select($"doc_id",
        (log((lit(2L) * $"nd" + lit(2L)).cast("double") /
             (lit(2L) * $"df" + lit(1L)).cast("double")) *
          (lit(22L) * $"t" * $"tf").cast("double") /
          (lit(10L) * $"t" * $"tf" + lit(3L) * $"t" +
            lit(9L) * $"dl" * $"nd").cast("double"))
          .cast("decimal(28,10)").as("term"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hits"), sum($"term").as("bm25x"))
  }

  /** Oracle CTE chain for [[bm25Scores]] (no WITH prefix, so callers can
    * splice it after other preludes): ends in
    * `lexall(doc_id, n_hits, bm25x)` — the exact decimal sum. */
  private[ops] val oracleBm25Ctes =
    """d AS (SELECT doc_id,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |           FROM documents),
      |k AS (SELECT CAST(SUM(dl) AS BIGINT) AS t, COUNT(*) AS nd FROM d),
      |w AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      |      FROM documents),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w
      |       WHERE word IN ('join', 'vector', 'dup') GROUP BY 1, 2),
      |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |         CAST(LN(CAST(2 * k.nd + 2 AS DOUBLE) /
      |                 CAST(2 * df.df + 1 AS DOUBLE))
      |              * CAST(22 * k.t * tf.tf AS DOUBLE)
      |              / CAST(10 * k.t * tf.tf + 3 * k.t + 9 * d.dl * k.nd
      |                     AS DOUBLE)
      |           AS DECIMAL(28,10)) AS term
      |       FROM tf JOIN df USING (word)
      |       JOIN d ON tf.doc_id = d.doc_id CROSS JOIN k),
      |lexall AS (SELECT doc_id, COUNT(*) AS n_hits, SUM(term) AS bm25x
      |           FROM sc GROUP BY 1)""".stripMargin

  private val bm25TopK = QueryDef(
    (s, dir) => {
      import s.implicits._
      bm25Scores(s, dir)
        .select($"doc_id", $"n_hits", Incremental.r4s($"bm25x").as("bm25"))
        .orderBy($"bm25".desc, $"doc_id")
        .limit(20)
    },
    "WITH " + oracleBm25Ctes + """
      |SELECT doc_id, n_hits, CAST(ROUND(bm25x, 4) AS DOUBLE) AS bm25
      |FROM lexall ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)

  /** Deterministic train/val/test split census — the leakage-safe
    * corpus partitioning every training run does before mixing: each
    * doc draws a replayable integer hash bucket (the Knuth
    * multiplicative discipline of q_sample_stratified — engine-native
    * `randomSplit` is seed- AND partitioning-dependent, so not
    * oracle-replayable), mod 1000 → <800 train / <900 val / else test,
    * and the output is the per-(source, split) census with exact token
    * counts and the realized share in basis points (exact integer
    * division). Disjoint + exhaustive by construction: ONE bucket per
    * doc — the property that matters, since a doc leaking from train
    * to test invalidates the eval.
    * Scale: narrow projection + two-phase agg; the per-source share
    * join is |sources × 3| rows — broadcast-trivial. */
  private val splitAssign = QueryDef(
    (s, dir) => {
      import s.implicits._
      val h = (($"doc_id" % 1000000007L) * 2654435761L) % 1000L
      val base = Tables.documents(s, dir)
        .select($"source",
          when(h < 800, "train").when(h < 900, "val").otherwise("test")
            .as("split"),
          size(split($"text", " ")).cast("long").as("tok"))
        .groupBy($"source", $"split")
        .agg(count(lit(1)).as("n_docs"), sum($"tok").as("tokens"))
      val tot = base.groupBy($"source").agg(sum($"n_docs").as("src_total"))
      base.join(broadcast(tot), "source")
        .withColumn("share_bp", expr("(n_docs * 10000) div src_total"))
        .select($"source", $"split", $"n_docs", $"tokens", $"share_bp")
        .orderBy($"source", $"split")
    },
    """WITH b AS (
      |  SELECT source,
      |         CASE WHEN ((doc_id % 1000000007) * 2654435761) % 1000 < 800
      |              THEN 'train'
      |              WHEN ((doc_id % 1000000007) * 2654435761) % 1000 < 900
      |              THEN 'val' ELSE 'test' END AS split,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |  FROM documents),
      |g AS (SELECT source, split, COUNT(*) AS n_docs,
      |             CAST(SUM(tok) AS BIGINT) AS tokens
      |      FROM b GROUP BY 1, 2),
      |t AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS src_total
      |      FROM g GROUP BY 1)
      |SELECT g.source, g.split, g.n_docs, g.tokens,
      |       CAST((g.n_docs * 10000) // t.src_total AS BIGINT) AS share_bp
      |FROM g JOIN t ON g.source = t.source
      |ORDER BY g.source, g.split""".stripMargin)

  /** Sequence packing — the training-batch construction step: greedy
    * in-order packing of each language's documents into fixed
    * token-budget bins (budget 512). A doc starts a new bin when the
    * RUNNING token total crosses a budget boundary, i.e. bin =
    * ⌊tokens-before-this-doc / budget⌋ — the offset-based packing rule,
    * all exact integer arithmetic.
    * Scale: the running total is [[Scale.blockedPrefixSum]] — cumsum
    * within (lang, doc-id block) slices in parallel, block offsets
    * (tiny) cumsum'd per lang and joined back — NOT a per-lang window,
    * whose one task per language would sort that language's entire
    * share of the corpus (~10 langs ⇒ single-core TB scans at target
    * scale). Bins then aggregate map-side. */
  private val seqPack = QueryDef(
    (s, dir) => {
      import s.implicits._
      val Budget = 512L
      val toks = Tables.documents(s, dir)
        .select($"doc_id", $"lang", size(split($"text", " ")).cast("long").as("tok"))
      // blockSpan 64 exercises multiple blocks per lang at fixture
      // scale; at corpus scale the span is sized so a block's rows fit
      // one task comfortably (e.g. 1e6)
      Scale.blockedPrefixSum(toks, "lang", "doc_id", "tok", "cum", 64L)
        .withColumn("bin", floor(($"cum" - $"tok") / Budget).cast("long"))
        .groupBy($"lang", $"bin")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"tok").as("tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .orderBy($"lang", $"bin")
    },
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |  FROM documents),
      |packed AS (
      |  SELECT doc_id, lang, tok,
      |         SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
      |                        ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM toks)
      |SELECT lang, CAST(FLOOR((cum - tok) / 512) AS BIGINT) AS bin,
      |       COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS tokens,
      |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM packed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Weighted corpus mixing — the multi-source training-mix step: each
    * source gets a sampling rate (even sources 80%, odd 30% — stand-ins
    * for quality-tiered mixture weights) and docs are kept by a
    * replayable integer hash draw (Knuth multiplicative on doc_id, mod
    * 1000 against the per-mille rate — same determinism discipline as
    * q_sample_stratified; engine-native `sample()` is seed-dependent and
    * not oracle-replayable). Emits the realized mix: kept docs + tokens
    * per source. Scale: a narrow filter + one grouped agg — no shuffle
    * of raw docs, the draw needs no global state. */
  private val corpusMix = QueryDef(
    (s, dir) => {
      import s.implicits._
      // '0'-prefix makes the extraction total: a digitless source yields
      // 0 (even) on BOTH engines, instead of Spark casting '' to NULL
      // while DuckDB raises — and a leading zero never changes the value
      val srcNum = concat(lit("0"), regexp_replace($"source", "[^0-9]", "")).cast("long")
      val rate = when(srcNum % 2 === 0, 800L).otherwise(300L)
      // same overflow guard as q_sample_stratified's hash order
      val draw = (($"doc_id" % 1000000007L) * 2654435761L) % 1000L
      Tables.documents(s, dir)
        .select($"doc_id", $"source",
          size(split($"text", " ")).cast("long").as("tok"),
          srcNum.as("srcnum"), rate.as("rate"), draw.as("draw"))
        .filter($"draw" < $"rate")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_kept"),
          sum($"tok").as("tokens"),
          max($"rate").as("rate_permille"))
        .orderBy($"source")
    },
    """WITH drawn AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |         CASE WHEN CAST('0' || regexp_replace(source, '[^0-9]', '', 'g') AS BIGINT) % 2 = 0
      |              THEN 800 ELSE 300 END AS rate,
      |         ((doc_id % 1000000007) * 2654435761) % 1000 AS draw
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_kept, CAST(SUM(tok) AS BIGINT) AS tokens,
      |       CAST(MAX(rate) AS BIGINT) AS rate_permille
      |FROM drawn WHERE draw < rate
      |GROUP BY source ORDER BY source""".stripMargin)

  /** Temperature-scaled corpus sampling weights — the exponent-smoothing
    * rule multilingual pipelines use to keep low-resource sources from
    * vanishing (p_i^α renormalized; XLM-R/mBERT publish α≈0.3-0.7; this
    * query fixes α=0.5, i.e. √p, which real pipelines use as T=2 — and
    * which keeps the whole chain ENGINE-EXACT: sqrt is IEEE-754
    * correctly rounded, so unlike pow/exp/ln it is bit-identical across
    * libms). Per source: doc count, natural share (one IEEE division of
    * exact longs), the temperature weight √p_i / Σ√p_j, and the
    * resulting per-100k-epoch allocation. The normalizer Σ√p is an
    * exact decimal(28,10) sum of per-source casts (summation-order-
    * proof, the q_doc_logprob discipline), so every emitted double is
    * one IEEE op on bit-identical operands — no rounding step at all.
    *
    * Scale: one two-phase corpus count → |sources| rows; the total and
    * the normalizer are 1-row broadcasts; the corpus is scanned once
    * and never reshuffled. */
  private val temperatureMix = QueryDef(
    (s, dir) => {
      import s.implicits._
      val per = Tables.documents(s, dir)
        .groupBy($"source").agg(count(lit(1)).as("n"))
      val tot = per.agg(sum($"n").as("nn"))
      val scored = per.crossJoin(broadcast(tot))
        .withColumn("p", $"n".cast("double") / $"nn".cast("double"))
        .withColumn("sd", sqrt($"p").cast("decimal(28,10)"))
      val norm = scored.agg(sum($"sd").as("ss"))
      scored.crossJoin(broadcast(norm))
        .select($"source",
          $"n".cast("long").as("n_docs"),
          $"p".as("nat_share"),
          ($"sd".cast("double") / $"ss".cast("double")).as("w_temp"),
          floor(lit(100000.0) * ($"sd".cast("double") / $"ss".cast("double")))
            .cast("long").as("docs_per_100k"))
        .orderBy($"source")
    },
    """WITH per AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
      |tot AS (SELECT SUM(n) AS nn FROM per),
      |scored AS (
      |  SELECT source, n,
      |         CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) AS p,
      |         CAST(sqrt(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
      |              AS DECIMAL(28,10)) AS sd
      |  FROM per, tot),
      |norm AS (SELECT SUM(sd) AS ss FROM scored)
      |SELECT source, CAST(n AS BIGINT) AS n_docs, p AS nat_share,
      |       CAST(sd AS DOUBLE) / CAST(ss AS DOUBLE) AS w_temp,
      |       CAST(FLOOR(100000.0 * (CAST(sd AS DOUBLE) / CAST(ss AS DOUBLE)))
      |            AS BIGINT) AS docs_per_100k
      |FROM scored, norm ORDER BY source""".stripMargin)

  /** Within-document repetition metrics — the published repetition
    * filters of large-corpus curation (Gopher's repetition rules /
    * C4-style dedup heuristics, public papers): top-word fraction and
    * duplicate word-2/3-gram fractions. High values mark degenerate
    * boilerplate/spam for removal before training. Scale: the n-gram
    * fractions are narrow array arithmetic (no shuffle); the top-word
    * fraction is explode → two-level partial-agg counts — only
    * (doc, word) partials shuffle, never text. */
  private val textRepetition = QueryDef(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.spread(Tables.documents(s, dir), "doc_id")
      val w = split($"text", " ")
      val n = size(w)
      // equal-length slices zip into n-grams with NO padding entries;
      // greatest(.,0) keeps short docs total (empty lists, 0.0 fracs)
      val m2 = greatest(n - 1, lit(0))
      val m3 = greatest(n - 2, lit(0))
      val bg = zip_with(slice(w, lit(1), m2), slice(w, lit(2), m2),
        (a, b) => concat_ws(" ", a, b))
      val tg = zip_with(
        zip_with(slice(w, lit(1), m3), slice(w, lit(2), m3), (a, b) => concat_ws(" ", a, b)),
        slice(w, lit(3), m3), (ab, c) => concat_ws(" ", ab, c))
      def dupFrac(grams: Column): Column =
        when(size(grams) > 0,
          round(lit(1.0) -
            size(array_distinct(grams)).cast("double") /
              size(grams).cast("double"), 4))
          .otherwise(lit(0.0))
      val gramStats = docs.select(
        $"doc_id", n.cast("long").as("n_words"),
        dupFrac(bg).as("dup_bigram_frac"),
        dupFrac(tg).as("dup_trigram_frac"))
      val topWord = docs.select($"doc_id", explode(w).as("wd"))
        .groupBy($"doc_id", $"wd").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(max($"c").as("top_c"), sum($"c").as("nw"))
        .select($"doc_id",
          round($"top_c".cast("double") / $"nw".cast("double"), 4)
            .as("top_word_frac"))
      gramStats.join(topWord, "doc_id")
        .select($"doc_id", $"n_words", $"top_word_frac",
          $"dup_bigram_frac", $"dup_trigram_frac")
        .orderBy($"doc_id")
    },
    """WITH b AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
      |         list_transform(
      |           list_zip(ws[1:greatest(len(ws)-1,0)], ws[2:len(ws)]),
      |           p -> p[1] || ' ' || p[2]) AS bg,
      |         list_transform(
      |           list_zip(ws[1:greatest(len(ws)-2,0)],
      |                    ws[2:greatest(len(ws)-1,1)], ws[3:len(ws)]),
      |           p -> p[1] || ' ' || p[2] || ' ' || p[3]) AS tg
      |  FROM b),
      |t AS (
      |  SELECT doc_id, MAX(c) AS top_c, SUM(c) AS nw FROM (
      |    SELECT doc_id, wd, COUNT(*) AS c
      |    FROM (SELECT doc_id, UNNEST(ws) AS wd FROM b)
      |    GROUP BY 1, 2)
      |  GROUP BY doc_id)
      |SELECT g.doc_id, n_words,
      |       ROUND(CAST(top_c AS DOUBLE) / nw, 4) AS top_word_frac,
      |       CASE WHEN len(bg) > 0
      |            THEN ROUND(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
      |            ELSE 0.0 END AS dup_bigram_frac,
      |       CASE WHEN len(tg) > 0
      |            THEN ROUND(1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg), 4)
      |            ELSE 0.0 END AS dup_trigram_frac
      |FROM g JOIN t ON g.doc_id = t.doc_id ORDER BY g.doc_id""".stripMargin)

  /** Gopher-style document filter (Rae et al. 2021, public) — the
    * canonical keep/drop rule set: word count in [50, 100k], mean word
    * length in [3, 10], ≥ 2 distinct stopwords, ≥ 80% words containing
    * an alphabetic character; keep = all pass. Per-flag output so a
    * curation run can report WHY a doc dropped, not just that it did.
    * Scale: one narrow projection, no shuffle — mean word length uses
    * the exact identity chars-minus-separators over n. */
  private val gopherFilter = QueryDef(
    (s, dir) => {
      import s.implicits._
      val stop = Seq("the", "a", "of", "and", "to", "in", "is")
      val w = split($"text", " ")
      val n = size(w).cast("long")
      val meanLen = (length($"text") - (n - 1)).cast("double") / n.cast("double")
      val alphaFrac = size(filter(w, x => x.rlike("[A-Za-z]"))).cast("double") /
        n.cast("double")
      val nStopD = size(array_intersect(array_distinct(w),
        array(stop.map(lit): _*))).cast("long")
      Tables.spread(Tables.documents(s, dir), "doc_id")
        .select(
          $"doc_id", n.as("n_words"),
          round(meanLen, 4).as("mean_word_len"),
          round(alphaFrac, 4).as("alpha_frac"),
          nStopD.as("n_stop_distinct"),
          (n >= 50 && n <= 100000).cast("long").as("wc_ok"),
          (meanLen >= 3.0 && meanLen <= 10.0).cast("long").as("wlen_ok"),
          (nStopD >= 2).cast("long").as("stop_ok"),
          (alphaFrac >= 0.8).cast("long").as("alpha_ok"),
          (n >= 50 && n <= 100000 && meanLen >= 3.0 && meanLen <= 10.0 &&
            nStopD >= 2 && alphaFrac >= 0.8).cast("long").as("keep"))
        .orderBy($"doc_id")
    },
    """WITH b AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS ws,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n,
      |         CAST(length(text) - (n - 1) AS DOUBLE) / n AS mean_len,
      |         CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
      |           / n AS alpha_frac,
      |         CAST(len(list_intersect(list_distinct(ws),
      |           ['the','a','of','and','to','in','is'])) AS BIGINT) AS n_stop_d
      |  FROM b)
      |SELECT doc_id, n AS n_words,
      |       ROUND(mean_len, 4) AS mean_word_len,
      |       ROUND(alpha_frac, 4) AS alpha_frac,
      |       n_stop_d AS n_stop_distinct,
      |       CAST(n >= 50 AND n <= 100000 AS BIGINT) AS wc_ok,
      |       CAST(mean_len >= 3.0 AND mean_len <= 10.0 AS BIGINT) AS wlen_ok,
      |       CAST(n_stop_d >= 2 AS BIGINT) AS stop_ok,
      |       CAST(alpha_frac >= 0.8 AS BIGINT) AS alpha_ok,
      |       CAST(n >= 50 AND n <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0
      |            AND n_stop_d >= 2 AND alpha_frac >= 0.8 AS BIGINT) AS keep
      |FROM c ORDER BY doc_id""".stripMargin)

  /** Vocabulary head coverage (§2.9 — the tokenizer-planning statistic):
    * rank corpus word types by frequency and report, for the top-200
    * head, the cumulative share of all corpus tokens each prefix covers
    * (exact basis points — integer division, no doubles). This answers
    * "how big must the vocab be to cover X% of tokens", the sizing
    * question before training a tokenizer.
    *
    * Scale: token counts are a partial-aggregated groupBy (map-side
    * combine collapses each executor's copies of a word first); the
    * top-200 head is TakeOrderedAndProject (no global sort), and ONLY
    * that bounded head flows through the un-partitioned ranking window
    * — ≤ k rows on one task by construction, never the full vocab. The
    * corpus total rides alongside as a broadcast 1-row cross join, not
    * a driver collect. A FULL-vocab cumulative curve would swap the
    * window for the Scale.blockedPrefixSum / rankPick offset machinery. */
  private val vocabCoverage = QueryDef(
    (s, dir) => {
      import s.implicits._
      val counts = Tables.documents(s, dir)
        .select(explode(split($"text", " ")).as("word"))
        .groupBy($"word").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum($"n").as("total"))
      val rankW = Window.orderBy($"n".desc, $"word")
      counts.orderBy($"n".desc, $"word").limit(200)
        .withColumn("rank", row_number().over(rankW).cast("long"))
        .withColumn("cum",
          sum($"n").over(rankW.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .crossJoin(broadcast(total))
        .withColumn("cov_bp", expr("cum * 10000 div total"))
        .select($"rank", $"word", $"n", $"cum", $"cov_bp")
        .orderBy($"rank")
    },
    """WITH w AS (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents),
      |c AS (SELECT word, COUNT(*) AS n FROM w GROUP BY 1),
      |t AS (SELECT SUM(n) AS total FROM c),
      |o AS (SELECT word, n,
      |             ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank,
      |             SUM(n) OVER (ORDER BY n DESC, word
      |                          ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM c)
      |SELECT CAST(rank AS BIGINT) AS rank, word, n,
      |       CAST(cum AS BIGINT) AS cum,
      |       CAST(cum * 10000 // total AS BIGINT) AS cov_bp
      |FROM o, t WHERE rank <= 200 ORDER BY rank""".stripMargin)

  /** Inverted-index construction — the retrieval-index build pass
    * (word → document-frequency, corpus-frequency, posting-list head).
    * cf (all occurrences) and df (distinct docs) come from one grouped
    * aggregate; the doc_id-sorted posting-list head is bounded BEFORE
    * aggregation: distinct (word, doc_id) → `row_number() ≤ 10` —
    * Spark's InferWindowGroupLimit turns that into a WindowGroupLimit
    * whose per-partition state is k rows per word, so a stopword's
    * group never buffers its full posting list (the r9 collect_set
    * shape held the WHOLE list in the aggregation buffer before the
    * slice — a multi-GB single-group OOM at 100 TB; VERDICT r9 §wrong
    * #1). collect_list then runs over ≤10 rows per word by
    * construction. Scale: the index is naturally partitioned by its
    * own key (word) — posting lists build per-word with no cross-word
    * traffic; a full index write would range-partition words into
    * segment files exactly like Pipeline.clusteredWrite. */
  private val invertedIndex = QueryDef(
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.spread(Tables.documents(s, dir), "doc_id")
        .select($"doc_id", explode(split($"text", " ")).as("word"))
      val stats = toks.groupBy($"word")
        .agg(count(lit(1)).as("cf"), countDistinct($"doc_id").as("df"))
      // null doc_ids never enter the posting head: collect_list drops
      // nulls AFTER ranking, so an unfiltered null would occupy a rank
      // slot (asc sorts NULLS FIRST) and silently shrink postings_head
      // below k — filter first to keep the r9 collect_set null-ignoring
      // semantics (ADVICE r10 #3)
      val head = toks.select($"word", $"doc_id").distinct()
        .filter($"doc_id".isNotNull)
        .withColumn("rk", row_number().over(
          Window.partitionBy($"word").orderBy($"doc_id")))
        .filter($"rk" <= 10)
        .groupBy($"word")
        .agg(array_join(
          transform(array_sort(collect_list($"doc_id")),
            x => x.cast("string")), ",").as("postings_head"))
      stats.join(head, Seq("word"))
        .select($"word", $"cf", $"df", $"postings_head")
        .orderBy($"word")
    },
    """WITH w AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents),
      |d AS (SELECT DISTINCT word, doc_id FROM w),
      |p AS (SELECT word, doc_id,
      |             ROW_NUMBER() OVER (PARTITION BY word ORDER BY doc_id) AS rk
      |      FROM d),
      |h AS (SELECT word,
      |             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
      |               AS postings_head
      |      FROM p WHERE rk <= 10 GROUP BY 1),
      |c AS (SELECT word, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df
      |      FROM w GROUP BY 1)
      |SELECT c.word, cf, df, postings_head
      |FROM c JOIN h ON c.word = h.word
      |ORDER BY c.word""".stripMargin)

  /** Bigram collocation scoring by pointwise mutual information — the
    * phrase-vocabulary pass (word2vec-style phrase detection): count
    * consecutive word pairs, join each side's unigram count, and score
    * PMI = ln(c_xy·N² / (B·c_x·c_y)) over EXACT integer counts (the
    * one double expression is written identically in both engines, so
    * the ln and its 4-decimal round replay bit-for-bit — the
    * q_math_funcs discipline). Support floor c_xy ≥ 5 keeps noise
    * pairs out, top-50 by (pmi, pair) is a bounded TakeOrdered head.
    * Scale: bigrams shuffle once on the pair key; the unigram side is
    * |vocab| rows — broadcastable at any corpus size that has a
    * tokenizer-sized vocabulary. */
  private val collocationPmi = QueryDef(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.spread(Tables.documents(s, dir), "doc_id")
        .select($"doc_id", split($"text", " ").as("w"))
      // uni feeds three plan legs (totals + both unigram joins) and
      // biTotals two (support filter + grand total) — persist both so
      // the lineage executes once, not per reference
      // single-consumer lineages (this query only): plan-local persist,
      // NOT a session memo — the bench bills the build to this query
      // (VERDICT r8 item 3's prune), and the memo registry stays the
      // set of genuinely cross-query shared intermediates
      val uni = docs.select(explode($"w").as("word"))
        .groupBy($"word").agg(count(lit(1)).as("c")).persist()
      val totals = uni.agg(sum($"c").as("n_words"))
      // single-word docs are filtered BEFORE sequence(1, size-1):
      // Spark's sequence(1, 0) is DESCENDING ([1, 0]) and element_at
      // (w, 0) is an ANSI error — never let a degenerate doc crash
      // the pass
      val bi = docs.filter(size($"w") >= 2)
        .select(explode(transform(
          sequence(lit(1), size($"w") - 1),
          i => struct(element_at($"w", i).as("w1"),
            element_at($"w", i + 1).as("w2")))).as("p"))
        .select($"p.w1".as("w1"), $"p.w2".as("w2"))
      val biTotals = bi.groupBy($"w1", $"w2")
        .agg(count(lit(1)).as("c_xy")).persist()
      val nBigrams = biTotals.agg(sum($"c_xy").as("n_bigrams"))
      biTotals.filter($"c_xy" >= 5)
        .join(broadcast(uni.select($"word".as("w1"), $"c".as("c_x"))), "w1")
        .join(broadcast(uni.select($"word".as("w2"), $"c".as("c_y"))), "w2")
        .crossJoin(broadcast(totals))
        .crossJoin(broadcast(nBigrams))
        .select($"w1", $"w2", $"c_xy", $"c_x", $"c_y",
          round(log(($"c_xy" * lit(1.0) * $"n_words" * $"n_words") /
            ($"n_bigrams" * lit(1.0) * $"c_x" * $"c_y")), 4).as("pmi"))
        .orderBy($"pmi".desc, $"w1", $"w2")
        .limit(50)
    },
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |uni AS (SELECT UNNEST(w) AS word FROM d),
      |u AS (SELECT word, COUNT(*) AS c FROM uni GROUP BY 1),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n_words FROM u),
      |b AS (SELECT w[i.i] AS w1, w[i.i + 1] AS w2
      |      FROM d CROSS JOIN (SELECT UNNEST(range(1, 10000)) AS i) i
      |      WHERE i.i <= len(w) - 1),
      |bc AS (SELECT w1, w2, COUNT(*) AS c_xy FROM b GROUP BY 1, 2),
      |bt AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bigrams FROM bc)
      |SELECT w1, w2, c_xy, ux.c AS c_x, uy.c AS c_y,
      |       ROUND(LN((c_xy * 1.0 * n_words * n_words) /
      |                (n_bigrams * 1.0 * ux.c * uy.c)), 4) AS pmi
      |FROM bc
      |JOIN u ux ON bc.w1 = ux.word
      |JOIN u uy ON bc.w2 = uy.word
      |CROSS JOIN t CROSS JOIN bt
      |WHERE c_xy >= 5
      |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin)

  /** Per-document mean unigram log-probability — the language-model
    * quality proxy corpus filters rank documents by (CCNet-style:
    * score against a reference LM; here the corpus's own unigram
    * distribution): lnp(w) = ln(c_w / N), doc score = mean over its
    * tokens. Determinism: each token's ln is ONE IEEE-identical double
    * op chain on both engines, cast to decimal(28,10) per token (a
    * half-boundary flip of the 10th decimal of a logarithm is
    * measure-zero), then the per-doc SUM is exact decimal — summation
    * order cannot move the mean ([[Incremental.r4a]] discipline).
    * Scale: the unigram table is |vocab| rows — broadcast; the token
    * stream joins map-side and aggregates two-phase per doc. */
  /** Shared per-doc unigram score lineage for q_doc_logprob and
    * q_perplexity_bucket: (doc_id, n_tokens, avg_logprob). */
  private def docLogprobScores(s: SparkSession, dir: String): DataFrame =
    // memoized, NOT a per-invocation persist: three consumers now ride
    // this lineage (q_doc_logprob, q_perplexity_bucket, q_auc_rank), so
    // a plan-local persist() re-registered a fresh cached plan with the
    // CacheManager on every call — the exact hazard the sessionMemo
    // comment above warns about (ADVICE r9 #1)
    memoized(s, dir, "docLogprobScores") {
      import s.implicits._
      val words = Tables.spread(Tables.documents(s, dir), "doc_id")
        .select($"doc_id", explode(split($"text", " ")).as("word"))
      // the corpus total rides the unigram table itself (a global
      // window over the |vocab|-row broadcast side — bounded by the same
      // vocabulary assumption as the broadcast): one lineage, no
      // scaffold persist. The former plan-local uni.persist() was never
      // unpersisted, leaving one un-owned cached plan in the
      // CacheManager per session (VERDICT r10 §wrong #1); folding the
      // total in keeps the build at the same two corpus passes with
      // nothing cached but the memo-owned result (CacheCensusSpec).
      val uni = words.groupBy($"word").agg(count(lit(1)).as("c"))
        .withColumn("n_words",
          sum($"c").over(org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1))))
      words.join(broadcast(uni), "word")
        .select($"doc_id",
          log($"c".cast("double") / $"n_words".cast("double"))
            .cast("decimal(28,10)").as("lnp"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          Incremental.r4a(sum($"lnp"), count(lit(1))).as("avg_logprob"))
    }

  /** Oracle CTE twin of [[docLogprobScores]]: `score(doc_id, n_tokens,
    * avg_logprob)`. */
  private val docLogprobSqlCte: String =
    """WITH w AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      |           FROM documents),
      |u AS (SELECT word, COUNT(*) AS c FROM w GROUP BY 1),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n_words FROM u),
      |lp AS (SELECT doc_id,
      |              CAST(LN(CAST(c AS DOUBLE) / CAST(n_words AS DOUBLE))
      |                   AS DECIMAL(28,10)) AS lnp
      |       FROM w JOIN u USING (word) CROSS JOIN t),
      |score AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens,
      |         FLOOR(CAST(CAST(CAST(ROUND(SUM(lnp), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / (COUNT(*) * 100.0) + 0.5) / 10000.0 AS avg_logprob
      |  FROM lp GROUP BY 1)""".stripMargin

  private val docLogprob = QueryDef(
    (s, dir) => {
      import s.implicits._
      docLogprobScores(s, dir).orderBy($"doc_id")
    },
    docLogprobSqlCte +
      "\nSELECT doc_id, n_tokens, avg_logprob FROM score ORDER BY doc_id")

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): rank each
    * language's documents by the unigram-LM quality score and split
    * them into head/middle/tail terciles — the standard corpus-quality
    * partition a web-scale pipeline keeps (head), LM-filters (middle),
    * or drops (tail). Reuses the [[docLogprobScores]] lineage; the
    * tercile is ntile(3) over the TOTAL order (score desc, doc_id) so
    * the bucket assignment is replayable on both engines; the output
    * is the per-(lang, bucket) census.
    *
    * Scale: the ntile window partitions BY LANGUAGE — at 100 TB a
    * single lang partition is petabyte-wide, so production swaps the
    * exact ntile for per-lang approx-quantile score cuts (one
    * two-phase sketch pass, then a broadcast band join); the declared
    * shape keeps exact ntile because the oracle must replay bucket
    * boundaries bit-for-bit. Everything else is two-phase aggregates
    * over the broadcast unigram model. */
  private val perplexityBucket = QueryDef(
    (s, dir) => {
      import s.implicits._
      val scores = docLogprobScores(s, dir)
      val docs = Tables.documents(s, dir).select($"doc_id", $"lang")
      val w = Window.partitionBy($"lang")
        .orderBy($"avg_logprob".desc, $"doc_id")
      scores.join(docs, "doc_id")
        .withColumn("bucket", ntile(3).over(w).cast("long"))
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("total_tokens"),
          min($"avg_logprob").as("min_score"),
          max($"avg_logprob").as("max_score"))
        .orderBy($"lang", $"bucket")
    },
    docLogprobSqlCte +
      """
      |, b AS (SELECT d.lang, s.n_tokens, s.avg_logprob,
      |               CAST(NTILE(3) OVER (PARTITION BY d.lang
      |                 ORDER BY s.avg_logprob DESC, s.doc_id) AS BIGINT)
      |                 AS bucket
      |        FROM score s JOIN documents d USING (doc_id))
      |SELECT lang, bucket, COUNT(*) AS n_docs,
      |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |       MIN(avg_logprob) AS min_score, MAX(avg_logprob) AS max_score
      |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin)

  /** AUC by rank statistic (Mann-Whitney U / Wilcoxon rank-sum) — the
    * threshold-free counterpart of q_calibration_bins' binned
    * reliability: the probability that a random English doc outranks a
    * random non-English doc under the unigram-LM quality score (the
    * CCNet filter signal q_perplexity_bucket cuts on). EXACT tie
    * handling in pure integers: ranks are kept at ×2 scale so the
    * tie-group average rank (lo+hi)/2 is the integer lo+hi — per
    * distinct score, positives contribute n_pos·(2·cum_below + c + 1);
    * then U₂ = 2·R₁ − n₁(n₁+1) and AUC in basis points is one integer
    * floor division. No doubles anywhere after the (bit-identical)
    * score itself; U₂ < 2·n₁·n₀ ≤ 2·|docs|² keeps everything far from
    * int64 overflow at any fixture scale.
    *
    * Scale: rides docLogprobScores; the cumulative window runs over
    * the |distinct scores| AGGREGATED rows (≤ |docs|, the
    * q_survival_km class — at PB scale the rank-sum decomposes into
    * per-range partials exactly like a distributed sort's histogram
    * pass). Output is one row. */
  private val aucRank = QueryDef(
    (s, dir) => {
      import s.implicits._
      val labeled = docLogprobScores(s, dir)
        .join(Tables.documents(s, dir).select($"doc_id", $"lang"), "doc_id")
        .select($"avg_logprob".as("score"),
          ($"lang" === "en").cast("long").as("pos"))
      val byScore = labeled.groupBy($"score")
        .agg(count(lit(1)).as("c"), sum($"pos").as("npos"))
      val wPrev = Window.orderBy($"score")
        .rowsBetween(Window.unboundedPreceding, -1)
      byScore
        .withColumn("cum_lt", coalesce(sum($"c").over(wPrev), lit(0L)))
        .select($"npos", $"c", $"cum_lt")
        .agg(sum($"npos").as("n_pos"),
          (sum($"c") - sum($"npos")).as("n_neg"),
          sum($"npos" * (lit(2L) * $"cum_lt" + $"c" + 1L)).as("r2"))
        .select($"n_pos", $"n_neg",
          ($"r2" - $"n_pos" * ($"n_pos" + 1L)).as("u2"))
        .select($"n_pos", $"n_neg", $"u2",
          // one-class corpus (no positives or no negatives) → AUC is
          // UNDEFINED, emit NULL — not a divide-by-zero job abort
          // (caught by the degenerate-input sweep)
          when($"n_pos" > 0 && $"n_neg" > 0,
            expr("u2 * 10000 div (2 * n_pos * n_neg)")).as("auc_bp"))
    },
    docLogprobSqlCte + """
      |, labeled AS (
      |  SELECT s.avg_logprob AS score,
      |         CAST(d.lang = 'en' AS BIGINT) AS pos
      |  FROM score s JOIN documents d USING (doc_id)),
      |by_score AS (
      |  SELECT score, COUNT(*) AS c, CAST(SUM(pos) AS BIGINT) AS npos
      |  FROM labeled GROUP BY score),
      |ranked AS (
      |  SELECT npos, c,
      |         COALESCE(SUM(c) OVER (ORDER BY score
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS cum_lt
      |  FROM by_score),
      |agg AS (
      |  SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
      |         CAST(SUM(c) - SUM(npos) AS BIGINT) AS n_neg,
      |         CAST(SUM(npos * (2 * cum_lt + c + 1)) AS BIGINT) AS r2
      |  FROM ranked)
      |SELECT n_pos, n_neg,
      |       r2 - n_pos * (n_pos + 1) AS u2,
      |       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
      |         (r2 - n_pos * (n_pos + 1)) * 10000 // (2 * n_pos * n_neg)
      |       END AS auc_bp
      |FROM agg""".stripMargin)

  /** Boilerplate-prefix clustering — the cheap first-pass dedup tier a
    * web-corpus pipeline runs BEFORE the shingle family: documents
    * sharing an identical leading-6-word prefix (scraped headers,
    * license banners, template intros) group into one cluster row with
    * membership stats. Spark `substring_index` and the oracle's
    * split-slice-join agree on the "all words when shorter" edge.
    *
    * Scale: one projection + one two-phase hash aggregate on the
    * prefix; no explode, no join — the prefix string (bounded to 6
    * words) is the only shuffled payload, and the `n_docs > 1` filter
    * keeps the output to actual clusters. Totals stay integer-exact
    * (n_chars is a stored BIGINT; the oracle casts its HUGEINT sum). */
  private val prefixCluster = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(substring_index($"text", " ", 6).as("prefix"),
          $"doc_id", $"n_chars")
        .groupBy($"prefix")
        .agg(count(lit(1)).as("n_docs"),
          min($"doc_id").as("first_doc"),
          sum($"n_chars").as("total_chars"))
        .filter($"n_docs" > 1)
        .orderBy($"prefix")
    },
    """WITH p AS (
      |  SELECT array_to_string(str_split(text, ' ')[1:6], ' ') AS prefix,
      |         doc_id, n_chars
      |  FROM documents)
      |SELECT prefix, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc,
      |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM p GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY prefix""".stripMargin)

  /** DSIR-style importance weight (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — the hashed
    * n-gram variant reduced to unigrams): score each document by how
    * much more likely its tokens are under a TARGET distribution (here
    * the lang='en' slice) than under the full-corpus proposal,
    * weight(d) = Σ_tokens ln p̂_t(w) − ln p̂_a(w) with add-1 smoothing
    * over the shared corpus vocabulary V. Both smoothed ratios are
    * assembled from exact BIGINT counts and divided in ONE
    * identically-written double ln per token, cast to decimal(28,10),
    * exact decimal SUM, 4-decimal round (the q_doc_logprob
    * discipline — summation order cannot move the result).
    *
    * Scale: the smoothed unigram table is |vocab| rows and broadcast;
    * the constants (N_t, N_a, V) are ONE broadcast row; the token
    * stream joins map-side and aggregates two-phase per doc — the
    * store never shuffles raw text, exactly the shape DSIR runs at
    * corpus scale (their hashing trick would replace `word` with a
    * bucketed hash key here, same plan). */
  private val dsirWeight = QueryDef(
    (s, dir) => {
      import s.implicits._
      val words = Tables.spread(Tables.documents(s, dir), "doc_id")
        .select($"doc_id", $"lang", explode(split($"text", " ")).as("word"))
      // single-consumer lineage: plan-local persist, self-billed.
      // r14: corpus + target counts fused into ONE conditional aggregate
      // over one token pass (guide §2.4) — the r13 shape exploded the
      // corpus twice (two shuffles, ~17 s of task CPU at sf0.1 per
      // JobProf) and joined the counts back together; count_if(lang='en')
      // carries the target count in the same partial state, and ct = 0
      // for never-en words exactly as the left join's coalesce produced
      val uni = words
        .groupBy($"word")
        .agg(count(lit(1)).as("ca"),
          count_if($"lang" === "en").as("ct"))
        .persist()
      val consts = uni.agg(sum($"ca").as("na"), sum($"ct").as("nt"),
        count(lit(1)).as("v"))
      words.select($"doc_id", $"word")
        .join(broadcast(uni), "word")
        .crossJoin(broadcast(consts))
        .select($"doc_id",
          log((($"ct" + 1).cast("double") * ($"na" + $"v").cast("double")) /
              (($"ca" + 1).cast("double") * ($"nt" + $"v").cast("double")))
            .cast("decimal(28,10)").as("lnr"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          Incremental.r4s(sum($"lnr")).as("dsir_weight"))
        .orderBy($"doc_id")
    },
    """WITH w AS (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS word
      |           FROM documents),
      |ca AS (SELECT word, COUNT(*) AS ca FROM w GROUP BY 1),
      |ct AS (SELECT word, COUNT(*) AS ct FROM w WHERE lang = 'en' GROUP BY 1),
      |u AS (SELECT ca.word, ca.ca, COALESCE(ct.ct, 0) AS ct
      |      FROM ca LEFT JOIN ct USING (word)),
      |k AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(ct) AS BIGINT) AS nt,
      |             COUNT(*) AS v FROM u),
      |r AS (SELECT doc_id,
      |        CAST(LN((CAST(ct + 1 AS DOUBLE) * CAST(na + v AS DOUBLE)) /
      |                (CAST(ca + 1 AS DOUBLE) * CAST(nt + v AS DOUBLE)))
      |             AS DECIMAL(28,10)) AS lnr
      |      FROM w JOIN u USING (word) CROSS JOIN k)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |       CAST(ROUND(SUM(lnr), 4) AS DOUBLE) AS dsir_weight
      |FROM r GROUP BY 1 ORDER BY doc_id""".stripMargin)

  /** Per-document unigram Shannon entropy — the lexical-diversity
    * quality signal (low entropy ⇒ repetitive/boilerplate text; the
    * complement of q_text_repetition's top-gram fractions): H(d) =
    * −Σ_types (c/n)·ln(c/n) over the doc's own token distribution.
    * Each type's term is ONE identically-written double chain on
    * exact integer (c, n), cast to decimal(28,10); the per-doc sum is
    * exact decimal, rounded to 4 decimals (−S is ≥ 0, so half-up
    * agrees on both engines).
    *
    * Scale: one explode → two-phase (doc, word) count → per-doc total
    * → co-partitioned join back on doc_id (both sides hash-partition
    * by doc_id; no broadcast needed, no raw-text shuffle) → two-phase
    * final aggregate. Every stage is narrow in the doc dimension. */
  private val tokenEntropy = QueryDef(
    (s, dir) => {
      import s.implicits._
      val dw = Tables.spread(Tables.documents(s, dir), "doc_id")
        .select($"doc_id", explode(split($"text", " ")).as("word"))
        .groupBy($"doc_id", $"word").agg(count(lit(1)).as("c"))
      val tot = dw.groupBy($"doc_id").agg(sum($"c").as("n"))
      dw.join(tot, "doc_id")
        .select($"doc_id", $"n",
          (($"c".cast("double") / $"n".cast("double")) *
            log($"c".cast("double") / $"n".cast("double")))
            .cast("decimal(28,10)").as("term"))
        .groupBy($"doc_id", $"n")
        .agg(count(lit(1)).as("n_types"),
          Incremental.r4s(-sum($"term")).as("entropy"))
        .select($"doc_id", $"n".as("n_tokens"), $"n_types", $"entropy")
        .orderBy($"doc_id")
    },
    """WITH w AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      |           FROM documents),
      |dw AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
      |t AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM dw GROUP BY 1),
      |e AS (SELECT dw.doc_id, n,
      |        CAST((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
      |             LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |             AS DECIMAL(28,10)) AS term
      |      FROM dw JOIN t USING (doc_id))
      |SELECT doc_id, n AS n_tokens, COUNT(*) AS n_types,
      |       CAST(ROUND(-SUM(term), 4) AS DOUBLE) AS entropy
      |FROM e GROUP BY 1, 2 ORDER BY doc_id""".stripMargin)

  /** C4-style blocklist document filter (Raffel et al. 2020 §2.2 — the
    * "bad words" page drop, term list adapted to this corpus's vocab):
    * per doc, the total occurrence count of blocklisted terms, the
    * distinct blocklisted terms present, and the keep flag (zero
    * hits). The list rides as an array literal — the same
    * array_intersect idiom as gopherFilter's stopword probe.
    *
    * Scale: narrow per-row array scan, no shuffle beyond the
    * presentation sort; a production blocklist (thousands of terms)
    * graduates from an array literal to a broadcast hash set inside
    * a codegen'd Expression — the plan shape is unchanged. */
  private val blocklistFilter = QueryDef(
    (s, dir) => {
      import s.implicits._
      val block = Seq("slow", "dup", "big")
      val w = split($"text", " ")
      val hits = size(filter(w, x => x.isin(block: _*))).cast("long")
      // no Tables.spread: QTimer 7 at sf0.1 on 4 cores, 3 alternations,
      // medians 0.39/0.36/0.48 s nospread vs 0.39/0.29/0.39 s spread — 2
      // wins of 3, inside the 0.12 s swing between alternations
      Tables.documents(s, dir)
        .select(
          $"doc_id",
          hits.as("n_hits"),
          size(array_intersect(array_distinct(w),
            array(block.map(lit): _*))).cast("long").as("n_hit_terms"),
          (hits === 0L).cast("long").as("keep"))
        .orderBy($"doc_id")
    },
    """WITH b AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |SELECT doc_id,
      |       CAST(len(list_filter(ws, x -> x IN ('slow','dup','big'))) AS BIGINT) AS n_hits,
      |       CAST(len(list_intersect(list_distinct(ws), ['slow','dup','big'])) AS BIGINT) AS n_hit_terms,
      |       CAST(len(list_filter(ws, x -> x IN ('slow','dup','big'))) = 0 AS BIGINT) AS keep
      |FROM b ORDER BY doc_id""".stripMargin)

  /** Token-level denylist redaction — the masking half of a PII /
    * sensitive-term scrub (this corpus has no PII-shaped spans, so the
    * denylist stands in for the matcher; the replace-and-count plumbing
    * is the operator): every denylisted token becomes `[MASK]`, and
    * the doc reports how many tokens were masked. Token-level replace
    * (transform over the split array, not regexp_replace) keeps the
    * semantics exact and engine-portable — no regex dialect drift.
    *
    * Scale: narrow per-row transform, no shuffle; the redacted text
    * column is written straight back out (same size class as the
    * input). The pattern-based matcher this stands in for is
    * [[piiScrub]] (q_pii_scrub) — same plan shape, regex span
    * detection instead of the token denylist. */
  private val redact = QueryDef(
    (s, dir) => {
      import s.implicits._
      val deny = Seq("customer", "value")
      val w = split($"text", " ")
      // no Tables.spread: QTimer 7 at sf0.1 on 4 cores, 3 alternations,
      // medians 0.40/0.39/0.47 s nospread vs 0.40/0.28/0.36 s spread
      Tables.documents(s, dir)
        .select(
          $"doc_id",
          size(filter(w, x => x.isin(deny: _*))).cast("long").as("n_redacted"),
          array_join(transform(w,
            x => when(x.isin(deny: _*), lit("[MASK]")).otherwise(x)), " ")
            .as("redacted"))
        .orderBy($"doc_id")
    },
    """WITH b AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |SELECT doc_id,
      |       CAST(len(list_filter(ws, x -> x IN ('customer','value'))) AS BIGINT) AS n_redacted,
      |       array_to_string(list_transform(ws,
      |         x -> CASE WHEN x IN ('customer','value') THEN '[MASK]' ELSE x END), ' ') AS redacted
      |FROM b ORDER BY doc_id""".stripMargin)

  /** PII span patterns shared by [[piiScrub]] and RegexDialectSpec —
    * deliberately inside the Java-regex ∩ RE2 COMMON SUBSET (plain
    * char classes, bounded/greedy quantifiers, no lookaround, no
    * backreferences, no \b, no lazy quantifiers, ASCII \d) so the
    * DuckDB oracle's RE2 replays the Java matcher exactly — both the
    * non-overlapping left-to-right match count and the replacement. */
  private[graft] val PiiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val PiiId = "\\d{3}-\\d{2}-\\d{4}"
  private[graft] val PiiNum = "\\d{8,}"

  /** Pattern-based PII scrub (q_redact's real matcher — VERDICT r8
    * item 4): email-shaped, id-shaped (ddd-dd-dddd) and long-digit-run
    * spans are counted per class and masked in place. The fixture
    * corpus has no PII-shaped spans, so spans are synthesized
    * DETERMINISTICALLY from doc_id (≡0 mod 3 → an email carrying the
    * doc_id; mod 4 → a 16-digit card number; mod 5 → an SSN-shaped id —
    * the q_try_funcs discipline), and the ENGINE scrubs through Java
    * regex while the ORACLE replays the identical patterns through
    * DuckDB's RE2 — the hash match pins both engines' count AND
    * replacement semantics over the shared dialect subset. Replacement
    * nesting order (email → id → num) is identical on both sides; the
    * classes are disjoint by construction (an id-span's digit runs are
    * 3/2/4 < 8; the email's embedded doc_id is ≤7 digits at any SF).
    *
    * Scale: narrow per-row projection, no shuffle, no UDF — three
    * codegen'd RegExpExtractAll/RegExpReplace evaluations per row; the
    * scrubbed column is the same size class as the input, exactly the
    * shape a 100 TB pre-training scrub pass wants (map-only, scan →
    * write, predicate-pushdown-transparent). */
  private val piiScrub = QueryDef(
    (s, dir) => {
      import s.implicits._
      val t0 = concat($"text",
        when($"doc_id" % 3 === 0, concat(lit(" contact user"),
          $"doc_id".cast("string"), lit("@mail.example.com now")))
          .otherwise(lit("")),
        when($"doc_id" % 4 === 0, lit(" card 4111111111111111 on file"))
          .otherwise(lit("")),
        when($"doc_id" % 5 === 0, lit(" ref 123-45-6789 noted"))
          .otherwise(lit("")))
      Tables.documents(s, dir)
        .select($"doc_id", t0.as("t"))
        .select(
          $"doc_id",
          regexp_count($"t", lit(PiiEmail)).cast("long").as("n_email"),
          regexp_count($"t", lit(PiiId)).cast("long").as("n_id"),
          regexp_count($"t", lit(PiiNum)).cast("long").as("n_num"),
          regexp_replace(regexp_replace(regexp_replace(
            $"t", PiiEmail, "[EMAIL]"), PiiId, "[ID]"), PiiNum, "[NUM]")
            .as("scrubbed"))
        .orderBy($"doc_id")
    },
    """WITH t AS (
      |  SELECT doc_id,
      |         text ||
      |         CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
      |              CAST(doc_id AS VARCHAR) || '@mail.example.com now'
      |              ELSE '' END ||
      |         CASE WHEN doc_id % 4 = 0
      |              THEN ' card 4111111111111111 on file' ELSE '' END ||
      |         CASE WHEN doc_id % 5 = 0
      |              THEN ' ref 123-45-6789 noted' ELSE '' END AS t
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(len(regexp_extract_all(t,
      |         '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
      |       CAST(len(regexp_extract_all(t,
      |         '\d{3}-\d{2}-\d{4}')) AS BIGINT) AS n_id,
      |       CAST(len(regexp_extract_all(t, '\d{8,}')) AS BIGINT) AS n_num,
      |       regexp_replace(regexp_replace(regexp_replace(t,
      |         '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
      |         '\d{3}-\d{2}-\d{4}', '[ID]', 'g'),
      |         '\d{8,}', '[NUM]', 'g') AS scrubbed
      |FROM t ORDER BY doc_id""".stripMargin)

  /** Fixed-window token chunking with overlap — the training-prep
    * step that cuts each document into model-context-sized pieces
    * (window W=32 tokens, stride S=24, so consecutive chunks share
    * W−S=8 tokens): chunk i covers tokens [i·S+1, i·S+W], every doc
    * yields ceil(max(n−W,0)/S)+1 chunks (a short doc yields one
    * partial chunk), and the last chunk may be shorter than W. The
    * chunk count is pure integer arithmetic on both engines.
    *
    * Scale: per-doc explode with amplification factor ≈ n/S — narrow,
    * no shuffle beyond the presentation sort. At 100 TB the chunk rows
    * write partitioned by a hash of doc_id so downstream packing sees
    * co-located chunks; W and S are the only knobs. */
  private val docChunks = QueryDef(
    (s, dir) => {
      import s.implicits._
      // no Tables.spread: QTimer 7 at sf0.1 on 4 cores, 3 alternations,
      // medians 0.33/0.28/0.40 s nospread vs 0.37/0.27/0.35 s spread
      Tables.documents(s, dir)
        .select($"doc_id", split($"text", " ").as("ws"))
        .withColumn("n", size($"ws").cast("long"))
        .withColumn("n_chunks",
          expr("1L + (greatest(n - 32L, 0L) + 23L) div 24L"))
        .select($"doc_id", $"ws",
          explode(sequence(lit(0L), $"n_chunks" - 1L)).as("chunk_id"))
        .select($"doc_id", $"chunk_id",
          expr("slice(ws, int(chunk_id * 24 + 1), 32)").as("chunk"))
        .select($"doc_id", $"chunk_id",
          size($"chunk").cast("long").as("n_tokens"),
          array_join($"chunk", " ").as("chunk_text"))
        .orderBy($"doc_id", $"chunk_id")
    },
    """WITH b AS (SELECT doc_id, string_split(text, ' ') AS ws,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |           FROM documents),
      |m AS (SELECT doc_id, ws,
      |             1 + CAST((GREATEST(n - 32, 0) + 23) // 24 AS BIGINT) AS n_chunks
      |      FROM b),
      |c AS (SELECT doc_id, ws, UNNEST(generate_series(0, n_chunks - 1)) AS ci
      |      FROM m)
      |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
      |       CAST(len(list_slice(ws, ci*24 + 1, ci*24 + 32)) AS BIGINT) AS n_tokens,
      |       array_to_string(list_slice(ws, ci*24 + 1, ci*24 + 32), ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin)

  /** Pairwise source-overlap matrix — the corpus-composition check
    * that spots near-identical ingest feeds before mixing: for every
    * source pair s1<s2, the shared distinct vocabulary, the vocab
    * Jaccard, and the WEIGHTED Jaccard over unigram counts
    * (Σ min(c1,c2) / Σ max over the union, with the union-side sum
    * folded to t1+t2−Σmin so only the INNER join is needed). All
    * ratios are exact integer basis points (`div` both engines).
    *
    * Scale: the per-(source, word) count table is |sources|·|vocab|
    * rows — the corpus explodes once into a two-phase count, and the
    * pair join runs on that tiny profile table, never on the corpus.
    * 20 sources → 190 pairs here; at thousands of sources the pair
    * space prunes by a min-hash sketch of each source's profile first
    * (same two-stage candidate→verify shape as the dedup family). */
  private val sourceOverlap = QueryDef(
    (s, dir) => {
      import s.implicits._
      // single-consumer lineage: plan-local persist (totals + both join
      // sides), self-billed rather than memo-warmed
      val cw = Tables.documents(s, dir)
        .select($"source", explode(split($"text", " ")).as("word"))
        .groupBy($"source", $"word").agg(count(lit(1)).as("c")).persist()
      val totals = cw.groupBy($"source")
        .agg(sum($"c").cast("long").as("tot"), count(lit(1)).as("nv"))
      val a = cw.select($"source".as("s1"), $"word", $"c".as("c1"))
      val b = cw.select($"source".as("s2"), $"word", $"c".as("c2"))
      a.join(b, "word").filter($"s1" < $"s2")
        .groupBy($"s1", $"s2")
        .agg(count(lit(1)).as("vocab_inter"),
          sum(least($"c1", $"c2")).cast("long").as("smin"))
        .join(broadcast(totals.select($"source".as("s1"),
          $"tot".as("t1"), $"nv".as("v1"))), "s1")
        .join(broadcast(totals.select($"source".as("s2"),
          $"tot".as("t2"), $"nv".as("v2"))), "s2")
        .select($"s1", $"s2", $"vocab_inter",
          expr("vocab_inter * 10000L div (v1 + v2 - vocab_inter)")
            .cast("long").as("vocab_jaccard_bp"),
          expr("smin * 10000L div (t1 + t2 - smin)")
            .cast("long").as("w_jaccard_bp"))
        .orderBy($"s1", $"s2")
    },
    """WITH w AS (SELECT source, UNNEST(string_split(text, ' ')) AS word
      |           FROM documents),
      |cw AS (SELECT source, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
      |t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot, COUNT(*) AS nv
      |      FROM cw GROUP BY 1),
      |p AS (SELECT a.source AS s1, b.source AS s2,
      |             COUNT(*) AS vocab_inter,
      |             CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS smin
      |      FROM cw a JOIN cw b USING (word) WHERE a.source < b.source
      |      GROUP BY 1, 2)
      |SELECT s1, s2, CAST(vocab_inter AS BIGINT) AS vocab_inter,
      |       CAST(vocab_inter * 10000 // (ta.nv + tb.nv - vocab_inter) AS BIGINT) AS vocab_jaccard_bp,
      |       CAST(smin * 10000 // (ta.tot + tb.tot - smin) AS BIGINT) AS w_jaccard_bp
      |FROM p JOIN t ta ON ta.source = p.s1 JOIN t tb ON tb.source = p.s2
      |ORDER BY s1, s2""".stripMargin)

  /** BPE pair statistics — the core counting step of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016): corpus-weighted counts
    * of adjacent character pairs, computed the way fast BPE trainers
    * do it — count each word ONCE over the corpus (two-phase), then
    * explode pairs over the tiny distinct-word table with the corpus
    * frequency as the weight. Top-50 by (pair_count desc, c1, c2);
    * n_positions = how many distinct (word type, position) slots the
    * pair occupies.
    *
    * Portability: Spark's `sequence(1, 0)` yields [1, 0] (descending
    * auto-step) where DuckDB's generate_series yields empty, so
    * single-char words are filtered out explicitly before the explode
    * — they contribute no pairs on either engine.
    *
    * Scale: the corpus contributes one two-phase word count
    * (|vocab| rows out); the pair explode and aggregate run on the
    * word-TYPE table (|vocab|·avg_len rows), never on the corpus —
    * each BPE merge iteration re-runs only this cheap second stage. */
  /** Corpus word-type frequencies `(word, f)` — the tiny table every
    * BPE iteration re-reads. Memoized: q_bpe_pairs and q_bpe_merge
    * share one build, exactly how a real BPE trainer keeps the
    * word-frequency dict resident across its merge loop. */
  private def wordFreq(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    memoized(s, dir, "wordFreq") {
      Tables.documents(s, dir)
        .select(explode(split($"text", " ")).as("word"))
        .groupBy($"word").agg(count(lit(1)).as("f"))
    }
  }

  private val bpePairs = QueryDef(
    (s, dir) => {
      import s.implicits._
      val wf = wordFreq(s, dir)
      wf.filter(length($"word") >= 2)
        .select($"word", $"f",
          explode(sequence(lit(1), length($"word") - 1)).as("i"))
        .select(expr("substr(word, i, 1)").as("c1"),
          expr("substr(word, i + 1, 1)").as("c2"), $"f")
        .groupBy($"c1", $"c2")
        .agg(sum($"f").cast("long").as("pair_count"),
          count(lit(1)).as("n_positions"))
        .orderBy($"pair_count".desc, $"c1", $"c2")
        .limit(50)
    },
    """WITH w AS (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents),
      |wf AS (SELECT word, COUNT(*) AS f FROM w GROUP BY 1),
      |p AS (SELECT substr(word, i, 1) AS c1, substr(word, i + 1, 1) AS c2, f
      |      FROM (SELECT word, f, UNNEST(generate_series(1, length(word) - 1)) AS i
      |            FROM wf))
      |SELECT c1, c2, CAST(SUM(f) AS BIGINT) AS pair_count,
      |       CAST(COUNT(*) AS BIGINT) AS n_positions
      |FROM p GROUP BY 1, 2
      |ORDER BY pair_count DESC, c1, c2 LIMIT 50""".stripMargin)

  /** One BPE merge ITERATION applied end to end — the step q_bpe_pairs
    * only counts for (Sennrich et al. 2016, Algorithm 1): pick the
    * argmax pair under q_bpe_pairs' exact ordering (count desc, c1,
    * c2), rewrite every word type with the merged symbol (greedy
    * left-to-right non-overlapping — `replace` semantics on BOTH
    * engines, which is precisely BPE's scan order), then recount
    * adjacent-token pairs over the rewritten corpus. The merged symbol
    * travels as `chr(1)` (absent from any text) and is rendered back
    * to its character sequence on emit, so the output's top-20
    * post-merge pair table shows the merged token competing as a unit
    * — rows like (merged_pair, t2) appearing in round 2's candidates.
    *
    * Scale: both stages run on the memoized word-TYPE table
    * (|vocab| rows), never the corpus; the argmax pair rides as a
    * 1-row broadcast into the rewrite — each additional merge
    * iteration at 100 TB costs |vocab|-scale work plus one broadcast,
    * which is why fast trainers loop exactly this dataflow. */
  private val bpeMerge = QueryDef(
    (s, dir) => {
      import s.implicits._
      val wf = wordFreq(s, dir)
      val top = wf.filter(length($"word") >= 2)
        .select($"word", $"f",
          explode(sequence(lit(1), length($"word") - 1)).as("i"))
        .select(expr("substr(word, i, 1)").as("c1"),
          expr("substr(word, i + 1, 1)").as("c2"), $"f")
        .groupBy($"c1", $"c2").agg(sum($"f").as("pc"))
        .orderBy($"pc".desc, $"c1", $"c2").limit(1)
        .select(concat($"c1", $"c2").as("pair"))
      wf.crossJoin(broadcast(top))
        .select($"pair", $"f", expr("replace(word, pair, chr(1))").as("mw"))
        .filter(length($"mw") >= 2)
        .select($"pair", $"f",
          explode(sequence(lit(1), length($"mw") - 1)).as("i"), $"mw")
        .select($"pair", expr("substr(mw, i, 1)").as("t1r"),
          expr("substr(mw, i + 1, 1)").as("t2r"), $"f")
        .groupBy($"pair", $"t1r", $"t2r")
        .agg(sum($"f").cast("long").as("pair_count"),
          count(lit(1)).as("n_positions"))
        .select($"pair".as("merged_pair"),
          expr("replace(t1r, chr(1), pair)").as("t1"),
          expr("replace(t2r, chr(1), pair)").as("t2"),
          $"pair_count", $"n_positions")
        .orderBy($"pair_count".desc, $"t1", $"t2")
        .limit(20)
    },
    """WITH w AS (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents),
      |wf AS (SELECT word, COUNT(*) AS f FROM w GROUP BY 1),
      |p AS (SELECT substr(word, i, 1) AS c1, substr(word, i + 1, 1) AS c2, f
      |      FROM (SELECT word, f, UNNEST(generate_series(1, length(word) - 1)) AS i
      |            FROM wf WHERE length(word) >= 2)),
      |top AS (SELECT c1 || c2 AS pair FROM p GROUP BY c1, c2
      |        ORDER BY SUM(f) DESC, c1, c2 LIMIT 1),
      |m AS (SELECT pair, f, replace(word, pair, chr(1)) AS mw FROM wf, top),
      |q AS (SELECT pair, substr(mw, i, 1) AS t1r, substr(mw, i + 1, 1) AS t2r, f
      |      FROM (SELECT pair, mw, f, UNNEST(generate_series(1, length(mw) - 1)) AS i
      |            FROM m WHERE length(mw) >= 2))
      |SELECT pair AS merged_pair, replace(t1r, chr(1), pair) AS t1,
      |       replace(t2r, chr(1), pair) AS t2,
      |       CAST(SUM(f) AS BIGINT) AS pair_count,
      |       CAST(COUNT(*) AS BIGINT) AS n_positions
      |FROM q GROUP BY pair, t1r, t2r
      |ORDER BY pair_count DESC, t1, t2 LIMIT 20""".stripMargin)

  /** Unrolled-CTE oracle for [[bpeTrain]] — the q_mmr_diversify pattern:
    * each merge k is a (pair-count → argmax → rewrite) CTE triple over
    * the previous vocabulary state, and r$k renders merge k's pair back
    * to its character sequence by replacing earlier markers with their
    * (already fully-rendered) expansions. Generated by loop so the
    * engine's N and the oracle's N can never drift. */
  private def bpeTrainOracle(n: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH w AS (SELECT UNNEST(string_split(text, ' ')) AS mw FROM documents),\n"
    sb ++= "wf0 AS (SELECT mw, COUNT(*) AS f FROM w GROUP BY 1)"
    for (k <- 1 to n) {
      sb ++= s""",
p$k AS (SELECT substr(mw, i, 1) AS t1, substr(mw, i + 1, 1) AS t2, f
       FROM (SELECT mw, f, UNNEST(generate_series(1, length(mw) - 1)) AS i
             FROM wf${k - 1} WHERE length(mw) >= 2)),
top$k AS (SELECT t1 || t2 AS pair, CAST(SUM(f) AS BIGINT) AS pair_count
          FROM p$k GROUP BY t1, t2 ORDER BY pair_count DESC, t1, t2 LIMIT 1),
wf$k AS (SELECT replace(mw, (SELECT pair FROM top$k), chr($k)) AS mw, f
         FROM wf${k - 1})"""
      val expand = (1 until k).foldLeft(s"(SELECT pair FROM top$k)") {
        (acc, j) => s"replace($acc, chr($j), (SELECT r FROM r$j))"
      }
      sb ++= s",\nr$k AS (SELECT $expand AS r)"
    }
    sb ++= "\n" + (1 to n).map { k =>
      s"SELECT CAST($k AS BIGINT) AS step, (SELECT r FROM r$k) AS merged, " +
        s"(SELECT pair_count FROM top$k) AS pair_count"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY step")
    sb.toString
  }

  /** Multi-iteration BPE TRAINING loop (VERDICT r8 item 5) — N=8 merges
    * of Sennrich et al. 2016 Algorithm 1 end to end, where q_bpe_merge
    * proves a single iteration: each round counts adjacent-symbol pairs
    * over the CURRENT vocabulary state, merges the argmax pair
    * (count desc, then symbol order — exact tie-break replayed by the
    * oracle), and rewrites every word type greedily left-to-right.
    * Iteration-k's merged symbol travels as the single char chr(k)
    * (absent from any text), so pair counting stays a fixed-width
    * substr scan every round; the output renders each merge back to its
    * full character sequence via a per-round rendering map that never
    * leaves the cluster (two 1-row broadcast joins), and reports the
    * pair's corpus count at selection time — merges 2+ demonstrably
    * build ON earlier merges (their rendered strings contain them).
    *
    * Scale (the claim this query proves end to end): every iteration
    * costs |vocab|-scale work — pair explode + two-phase argmax over
    * the word-TYPE table, one broadcast, one narrow rewrite — and NEVER
    * re-touches the corpus (wordFreq is the memoized once-per-ingest
    * aggregate). localCheckpoint truncates lineage per round (the
    * starCC discipline), so iteration N's plan doesn't replay rounds
    * 1..N-1. At 100 TB: identical dataflow, vocab table instead of
    * 8-row toy state; fast BPE trainers loop exactly this shape. */
  /** The N-round training loop shared by [[bpeTrain]] and [[bpeEncode]]:
    * returns (the ordered merge pairs as literal strings — pairs may
    * contain earlier rounds' chr(k) markers — and the rendered merge
    * table).
    *
    * ONE Spark job per round: the pair census + argmax runs distributed
    * over the persisted |vocab| word-frequency table, the 1-row argmax
    * is collected (the bounded watermark-read shape), and everything
    * downstream of it is driver-local — marker rendering substitutes
    * earlier merges' spelled forms through a ≤N-entry map, and the
    * next round's replace applies the pair as a LITERAL, so the wf
    * lineage is the cached base plus k codegen'd replaces (no
    * crossJoin, no broadcast, no checkpoint). The r9 shape ran 3 eager
    * localCheckpoint jobs + a broadcast crossJoin per round (24
    * sequential jobs at N=8, QTimer floor ~4.2 s); rounds themselves
    * stay sequential by data dependency — merge k+1 counts pairs in
    * the text AFTER merge k. At 100 TB the only corpus-scale work is
    * the memoized wordFreq build; the loop costs |vocab| per round
    * regardless of corpus size. */
  private def bpeTrainLoop(s: org.apache.spark.sql.SparkSession, dir: String,
      n: Int): (Seq[String], org.apache.spark.sql.DataFrame) = {
      import s.implicits._
      var wf = wordFreq(s, dir).select($"word".as("mw"), $"f")
      val rendMap = scala.collection.mutable.Map[String, String]()
      val pairs = scala.collection.mutable.ArrayBuffer[String]()
      val merges = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
      var k = 1
      var exhausted = false
      while (k <= n && !exhausted) {
        // headOption, not head(): a degenerate corpus (every word already
        // a single symbol before round n) yields an EMPTY pair census —
        // emit the merges learned so far instead of throwing
        // NoSuchElementException (ADVICE r10 #2)
        val rowOpt = wf.filter(length($"mw") >= 2)
          .select($"mw", $"f",
            explode(sequence(lit(1), length($"mw") - 1)).as("i"))
          .select(expr("substr(mw, i, 1)").as("t1"),
            expr("substr(mw, i + 1, 1)").as("t2"), $"f")
          .groupBy($"t1", $"t2").agg(sum($"f").cast("long").as("pair_count"))
          .orderBy($"pair_count".desc, $"t1", $"t2").limit(1)
          .select(concat($"t1", $"t2").as("pair"), $"pair_count")
          .collect().headOption
        if (rowOpt.isEmpty) exhausted = true
        else {
          val row = rowOpt.get
          val pair = row.getString(0)
          pairs += pair
          // render by CODE POINT (Spark's substr/length are code-point
          // based): a non-BMP character must not be split into surrogates
          val merged = pair.codePoints().toArray.map { cp =>
            val c = new String(Character.toChars(cp))
            rendMap.getOrElse(c, c)
          }.mkString
          merges += ((k.toLong, merged, row.getLong(1)))
          rendMap(k.toChar.toString) = merged
          wf = wf.select(
            replace($"mw", lit(pair), lit(k.toChar.toString)).as("mw"), $"f")
          k += 1
        }
      }
      (pairs.toSeq, merges.toSeq.toDF("step", "merged", "pair_count"))
  }

  private val bpeTrain = QueryDef(
    (s, dir) => {
      import s.implicits._
      bpeTrainLoop(s, dir, 8)._2.orderBy($"step")
    },
    bpeTrainOracle(8))

  /** BPE tokenizer APPLICATION — encode the corpus with the 8 merges
    * [[bpeTrain]] learns (the apply half of train→apply): each doc's
    * text passes through the identical ordered replace chain (merge k's
    * pair — possibly containing earlier markers — collapses to the
    * single symbol chr(k)), and the census reports per-doc symbol
    * counts before/after plus the compression in integer basis points
    * (truncating div on positive operands ≡ floor, the q_zipf_fit
    * rule). Spaces separate words on both sides of the chain (no
    * learned pair contains one), so whole-text replace applies merges
    * within words only — BPE's scan order at corpus granularity.
    *
    * Scale: the 8 learned pairs fold into ONE codegen'd expression of
    * literal replaces (no crossJoin, no broadcast — the r10 fuse,
    * VERDICT r9 item 4); the corpus pass is map-only with no shuffle —
    * the exact shape of a production tokenization pass: train once at
    * |vocab| scale, bake the merge table into the plan, stream the
    * 100 TB corpus through it. */
  private val bpeEncode = QueryDef(
    (s, dir) => {
      import s.implicits._
      val (pairs, _) = bpeTrainLoop(s, dir, 8)
      val encoded = pairs.zipWithIndex.foldLeft($"text".as("t")) {
        case (acc, (p, i)) =>
          replace(acc, lit(p), lit((i + 1).toChar.toString))
      }
      Tables.documents(s, dir)
        .select($"doc_id",
          length(regexp_replace($"text", " ", "")).cast("long").as("n_sym_before"),
          length(regexp_replace(encoded, " ", "")).cast("long").as("n_sym_after"))
        .select($"doc_id", $"n_sym_before", $"n_sym_after",
          when($"n_sym_before" === 0L, 10000L)
            .otherwise(expr("(n_sym_after * 10000) div n_sym_before"))
            .cast("long").as("compression_bp"))
        .orderBy($"doc_id")
    },
    bpeEncodeOracle(8))

  /** [[bpeEncode]]'s oracle: the same loop-generated training chain as
    * [[bpeTrainOracle]], then the ordered replace chain applied to
    * every document. */
  private def bpeEncodeOracle(n: Int): String = {
    val train = bpeTrainOracle(n)
    val chain = (1 to n).foldLeft("text") {
      (acc, k) => s"replace($acc, (SELECT pair FROM top$k), chr($k))"
    }
    // keep the training CTEs, swap the final merge-table SELECT for the
    // per-doc encode census
    val upToLastCte = train.substring(0, train.lastIndexOf("\nSELECT CAST(1"))
    upToLastCte + s""",
enc AS (SELECT doc_id,
               CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_sym_before,
               CAST(length(replace($chain, ' ', '')) AS BIGINT) AS n_sym_after
        FROM documents)
SELECT doc_id, n_sym_before, n_sym_after,
       CASE WHEN n_sym_before = 0 THEN CAST(10000 AS BIGINT)
            ELSE CAST((n_sym_after * 10000) // n_sym_before AS BIGINT)
       END AS compression_bp
FROM enc ORDER BY doc_id"""
  }

  /** Bigram LM document score — the CCNet-style language-model quality
    * filter one order up from q_doc_logprob's unigram variant: per doc,
    * Σ ln p̂(w_i | w_{i-1}) with add-1 smoothing, where the conditional
    * denominator is the PREFIX count (Σ over continuations of the
    * bigram table — self-consistent with the numerator, the standard
    * MLE conditioning) plus |V|. Every term is one identically-written
    * double ln on exact BIGINT counts, cast decimal(28,10), exact
    * decimal sum, 4-decimal round (the q_doc_logprob discipline).
    *
    * Scale: the doc bigram stream is memoized (built once, consumed by
    * the model build AND the scoring join); the bigram model is
    * |V|² rows worst case and broadcasts with its folded prefix
    * totals; |V| rides as a 1-row broadcast. The corpus never
    * shuffles raw text — at web scale the model table graduates from
    * broadcast to a hashed-bucketed equi join (CCNet shards its LM
    * the same way), same plan shape. */
  private val bigramLogprob = QueryDef(
    (s, dir) => {
      import s.implicits._
      val bg = memoized(s, dir, "doc_bigrams") {
        Tables.documents(s, dir)
          .select($"doc_id", split($"text", " ").as("ws"))
          .withColumn("n", size($"ws").cast("long"))
          .filter($"n" >= 2)
          .select($"doc_id", $"ws",
            explode(sequence(lit(1L), $"n" - 1L)).as("i"))
          .select($"doc_id",
            expr("element_at(ws, int(i))").as("w1"),
            expr("element_at(ws, int(i) + 1)").as("w2"))
      }
      val cb = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
      val model = cb.join(
        cb.groupBy($"w1").agg(sum($"cb").cast("long").as("cp")), "w1")
      // |V| = row count of the memoized wordFreq unigram table (same
      // distinct-word set by construction) — the former inline
      // explode + count_distinct re-scanned the whole corpus and paid a
      // global distinct shuffle per run (guide §2.4: a pass the
      // once-per-ingest vocab table already embodies)
      val vconst = wordFreq(s, dir).agg(count(lit(1)).as("v"))
      bg.join(broadcast(model), Seq("w1", "w2"))
        .crossJoin(broadcast(vconst))
        .select($"doc_id",
          log(($"cb" + 1).cast("double") / ($"cp" + $"v").cast("double"))
            .cast("decimal(28,10)").as("term"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          Incremental.r4s(sum($"term")).as("logprob"))
        .orderBy($"doc_id")
    },
    """WITH b AS (SELECT doc_id, string_split(text, ' ') AS ws,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |           FROM documents),
      |bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |       FROM (SELECT doc_id, ws, UNNEST(generate_series(1, n - 1)) AS i
      |             FROM b WHERE n >= 2)),
      |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
      |cp AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cp FROM cb GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT word) AS v
      |      FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)),
      |r AS (SELECT bg.doc_id,
      |        CAST(LN(CAST(cb.cb + 1 AS DOUBLE) / CAST(cp.cp + v.v AS DOUBLE))
      |             AS DECIMAL(28,10)) AS term
      |      FROM bg JOIN cb USING (w1, w2) JOIN cp USING (w1) CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |       CAST(ROUND(SUM(term), 4) AS DOUBLE) AS logprob
      |FROM r GROUP BY 1 ORDER BY doc_id""".stripMargin)

  /** Stupid Backoff document scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation") — the web-scale LM
    * quality score that skips normalization so the model is just two
    * count tables: S(w₂|w₁) = c(w₁w₂)/c(w₁·) when the bigram was seen
    * in TRAINING, else 0.4·(c(w₂)+1)/T (unigram backoff; +1 keeps
    * unseen words finite, the documented ε-floor). Training set =
    * `doc_id % 25 = 0` (a 4% held-in sample — unlike q_bigram_logprob's
    * self-trained add-1 model, ~⅓ of scored bigrams genuinely back
    * off, so the backoff path is exercised, not decorative). Per doc:
    * Σ ln S over its bigram stream, decimal-exact sum, 4-decimal round
    * (the q_doc_logprob discipline), plus the backoff-term census.
    *
    * Scale: shares the memoized `doc_bigrams` stream with
    * q_bigram_logprob (built once per session+dir); the trained model
    * is a 4%-sample aggregate that BROADCASTS with its folded prefix
    * totals — the corpus-sized bigram stream never shuffles for the
    * scoring join. At web scale the sample rate holds the model tiny
    * while T grows, exactly why Brants et al. dropped Kneser-Ney. */
  private val backoffLogprob = QueryDef(
    (s, dir) => {
      import s.implicits._
      val bg = memoized(s, dir, "doc_bigrams") {
        Tables.documents(s, dir)
          .select($"doc_id", split($"text", " ").as("ws"))
          .withColumn("n", size($"ws").cast("long"))
          .filter($"n" >= 2)
          .select($"doc_id", $"ws",
            explode(sequence(lit(1L), $"n" - 1L)).as("i"))
          .select($"doc_id",
            expr("element_at(ws, int(i))").as("w1"),
            expr("element_at(ws, int(i) + 1)").as("w2"))
      }
      val cb = bg.filter($"doc_id" % 25 === 0)
        .groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
      val model = cb.join(
        cb.groupBy($"w1").agg(sum($"cb").cast("long").as("cp")), "w1")
      // r14 (guide §6/§2.4): the unigram sample census ran as ONE task
      // off the single-row-group documents scan (JobProf: two serial
      // 0.65 s single-task jobs — `cu` feeds both the broadcast and the
      // total, and was computed once per consumer). Fan the scan out
      // and persist the tiny census so the explode runs once, parallel.
      // Plan-local persist, self-billed (the sourceOverlap discipline).
      val cu = Tables.spread(
          Tables.documents(s, dir).filter($"doc_id" % 25 === 0), "doc_id")
        .select(explode(split($"text", " ")).as("w2"))
        .groupBy($"w2").agg(count(lit(1)).as("cu"))
        .persist()
      val tot = cu.agg(sum($"cu").cast("long").as("t"))
      bg.join(broadcast(model), Seq("w1", "w2"), "left")
        .join(broadcast(cu), Seq("w2"), "left")
        .crossJoin(broadcast(tot))
        .select($"doc_id",
          when($"cb".isNotNull,
            log($"cb".cast("double") / $"cp".cast("double")))
            .otherwise(log(lit(0.4) *
              (coalesce($"cu", lit(0L)) + 1L).cast("double") /
              $"t".cast("double")))
            .cast("decimal(28,10)").as("term"),
          when($"cb".isNull, 1L).otherwise(0L).as("backed"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum($"backed").cast("long").as("n_backoff"),
          Incremental.r4s(sum($"term")).as("logprob"))
        .orderBy($"doc_id")
    },
    """WITH b AS (SELECT doc_id, string_split(text, ' ') AS ws,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |           FROM documents),
      |bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |       FROM (SELECT doc_id, ws, UNNEST(generate_series(1, n - 1)) AS i
      |             FROM b WHERE n >= 2)),
      |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg
      |       WHERE doc_id % 25 = 0 GROUP BY 1, 2),
      |cp AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cp FROM cb GROUP BY 1),
      |cu AS (SELECT w AS w2, COUNT(*) AS cu
      |       FROM (SELECT UNNEST(string_split(text, ' ')) AS w
      |             FROM documents WHERE doc_id % 25 = 0) GROUP BY 1),
      |t AS (SELECT CAST(SUM(cu) AS BIGINT) AS t FROM cu),
      |r AS (SELECT bg.doc_id,
      |        CASE WHEN cb.cb IS NOT NULL
      |             THEN CAST(LN(CAST(cb.cb AS DOUBLE) / CAST(cp.cp AS DOUBLE))
      |                  AS DECIMAL(28,10))
      |             ELSE CAST(LN(0.4 * CAST(COALESCE(cu.cu, 0) + 1 AS DOUBLE)
      |                          / CAST(t.t AS DOUBLE)) AS DECIMAL(28,10))
      |        END AS term,
      |        CASE WHEN cb.cb IS NULL THEN 1 ELSE 0 END AS backed
      |      FROM bg LEFT JOIN cb USING (w1, w2) LEFT JOIN cp USING (w1)
      |              LEFT JOIN cu USING (w2) CROSS JOIN t)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |       CAST(SUM(backed) AS BIGINT) AS n_backoff,
      |       CAST(ROUND(SUM(term), 4) AS DOUBLE) AS logprob
      |FROM r GROUP BY 1 ORDER BY doc_id""".stripMargin)

  /** Segment-level dedup with reassembly — the C4 "three-sentence span"
    * rule re-grounded on this corpus's flat word stream: split each doc
    * into consecutive 10-word segments, keep exactly ONE occurrence of
    * each distinct segment text corpus-wide (the lexicographically
    * first (doc_id, seg_idx) — same deterministic keep-lowest rule as
    * q_dedup_exact), drop the rest, and REASSEMBLE each doc from its
    * surviving segments in order. Unlike q_dedup_substring (which only
    * CENSUSES duplicated windows), this emits the post-dedup corpus —
    * the operator whose output actually feeds training.
    *
    * Scale: segments shuffle once, keyed by segment text (at 100 TB,
    * key by a 128-bit segment fingerprint to keep shuffle rows small —
    * the q_dedup_exact note applies verbatim); reassembly is a per-doc
    * hash aggregate over the surviving segment rows. No corpus-sized
    * window, no all-pairs anything. */
  private val dedupLines = QueryDef(
    (s, dir) => {
      import s.implicits._
      val segs = Tables.documents(s, dir)
        .select($"doc_id", split($"text", " ").as("ws"))
        .select($"doc_id", $"ws",
          explode(sequence(lit(0L),
            ceil(size($"ws") / lit(10.0)).cast("long") - 1L)).as("i"))
        .select($"doc_id", $"i".as("seg_idx"),
          array_join(slice($"ws", ($"i" * 10 + 1).cast("int"), lit(10)), " ")
            .as("seg"))
      val w = Window.partitionBy($"seg").orderBy($"doc_id", $"seg_idx")
      segs.withColumn("rk", row_number().over(w))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(when($"rk" === 1, 1L).otherwise(0L)).cast("long").as("n_kept"),
          array_join(
            transform(
              array_sort(collect_list(
                when($"rk" === 1, struct($"seg_idx", $"seg")))),
              x => x.getField("seg")), " ").as("retained"))
        .select($"doc_id", $"n_segs", $"n_kept",
          length($"retained").cast("long").as("retained_chars"), $"retained")
        .orderBy($"doc_id")
    },
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |segs AS (
      |  SELECT doc_id, i AS seg_idx,
      |         array_to_string(ws[(i*10+1):least((i+1)*10, len(ws))], ' ') AS seg
      |  FROM (SELECT doc_id, ws,
      |          UNNEST(range(0, CAST(ceil(len(ws)/10.0) AS BIGINT))) AS i
      |        FROM s)),
      |k AS (SELECT doc_id, seg_idx, seg,
      |        ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rk
      |      FROM segs)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
      |       CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(length(COALESCE(
      |         string_agg(CASE WHEN rk = 1 THEN seg END, ' ' ORDER BY seg_idx),
      |         '')) AS BIGINT) AS retained_chars,
      |       COALESCE(string_agg(CASE WHEN rk = 1 THEN seg END,
      |         ' ' ORDER BY seg_idx), '') AS retained
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** Per-doc n-gram novelty census — the data-curriculum signal: what
    * fraction of a doc's distinct word trigrams appear here FIRST
    * (min doc_id over the corpus owns the type)? Late near-duplicate
    * and boilerplate docs score low; the leading docs score 1. Emits
    * exact counts plus novelty in integer basis points
    * (n_novel·10⁴ ÷ n_tri, floor) — the repo's division-free ratio
    * discipline, immune to double-rounding ties.
    *
    * Scale: same first-occurrence decomposition as q_vocab_growth —
    * and NO corpus-sized join: the distinct (doc, trigram) stream is
    * memoized once, then n_tri comes from a doc-keyed aggregate and
    * n_novel from (trigram → min doc) re-aggregated BY first_doc —
    * two |docs|-row frames joined at |docs| size, instead of joining
    * the full trigram stream back against its own first-occurrence
    * table (which would shuffle the corpus twice more). */
  private val ngramNovelty = QueryDef(
    (s, dir) => {
      import s.implicits._
      // single-consumer lineage: plan-local persist (perDoc + novel
      // legs), self-billed rather than memo-warmed
      val tri = {
        Tables.documents(s, dir)
          .select($"doc_id", split($"text", " ").as("ws"))
          .withColumn("n", size($"ws").cast("long"))
          .filter($"n" >= 3)
          .select($"doc_id", $"ws",
            explode(sequence(lit(1L), $"n" - 2L)).as("i"))
          .select($"doc_id", concat_ws(" ",
            expr("element_at(ws, int(i))"),
            expr("element_at(ws, int(i) + 1)"),
            expr("element_at(ws, int(i) + 2)")).as("tg"))
          .distinct()
      }.persist()
      val perDoc = tri.groupBy($"doc_id").agg(count(lit(1)).as("n_tri"))
      val novel = tri.groupBy($"tg").agg(min($"doc_id").as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_novel"))
      perDoc.join(novel, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tri",
          coalesce($"n_novel", lit(0L)).cast("long").as("n_novel"))
        .select($"doc_id", $"n_tri", $"n_novel",
          floor($"n_novel" * 10000L / $"n_tri").cast("long").as("novelty_bp"))
        .orderBy($"doc_id")
    },
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tri AS (SELECT DISTINCT doc_id,
      |          ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tg
      |        FROM (SELECT doc_id, ws, UNNEST(range(1, len(ws) - 1)) AS i
      |              FROM s WHERE len(ws) >= 3)),
      |fo AS (SELECT tg, MIN(doc_id) AS first_doc FROM tri GROUP BY 1)
      |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
      |       CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_novel,
      |       CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
      |            * 10000 // COUNT(*) AS BIGINT) AS novelty_bp
      |FROM tri t JOIN fo f USING (tg) GROUP BY t.doc_id
      |ORDER BY t.doc_id""".stripMargin)

  /** Deterministic training-shard assignment + balance audit: route each
    * document to one of 16 shards by Knuth multiplicative hashing
    * (doc_id · 2654435761 mod 2³², take the low 4 bits of the high
    * half), then audit shard balance — doc count, char volume, source
    * diversity. The audit is what you actually run before a training
    * job: a skewed shard is a straggler epoch.
    *
    * Determinism contract: the hash is plain BIGINT arithmetic both
    * engines evaluate identically (no engine-native hash functions —
    * Spark's xxhash64 and DuckDB's hash() disagree by construction).
    * Products stay < 2⁶³ for doc_id < 2³¹; production ids beyond that
    * use xxhash64 with no oracle (DuckDB overflow is strict, Java
    * wraps). Scale: one map-side-combined 16-key aggregate — the
    * assignment itself is a narrow projection, exactly how a
    * partitionBy("shard") write would route rows. */
  private val shardAssign = QueryDef(
    (s, dir) => {
      import s.implicits._
      // high 4 bits of the 32-bit mix: (… mod 2³²) >> 28 ∈ [0, 16) —
      // integer ops only (Column `/` on longs would go through double)
      val shard = shiftright(($"doc_id" * lit(2654435761L)) % lit(4294967296L),
        28).cast("long")
      Tables.documents(s, dir)
        .select(shard.as("shard"), $"doc_id", $"n_chars", $"source")
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").cast("long").as("total_chars"),
          countDistinct($"source").as("n_sources"),
          min($"doc_id").as("min_doc"),
          max($"doc_id").as("max_doc"))
        .orderBy($"shard")
    },
    """SELECT (doc_id * 2654435761) % 4294967296 // 268435456 AS shard,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |       COUNT(DISTINCT source) AS n_sources,
      |       MIN(doc_id) AS min_doc,
      |       MAX(doc_id) AS max_doc
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Decile bucketing by document size — the curation step that picks
    * quality/length thresholds from a decile table before filtering.
    * NTILE(10) is the textbook formulation, but a global ntile is a
    * single-partition window sort — the q_percentile scale argument —
    * so the Spark side computes the 9 boundary keys with ONE
    * range-sorted rank-pick ([[Scale.rankPickCounted]], ntile's cumulative
    * bucket-size ranks b·⌊n/10⌋ + min(b, n mod 10)), broadcasts them,
    * and assigns bucket = 1 + #boundaries below the row's key — a
    * narrow projection. Oracle uses NTILE directly; the rank totalizer
    * (n_chars ⊕ doc_id packed into a <2⁵³ exactly-double long) makes
    * the order unambiguous so both formulations provably agree.
    * Production keys that overflow the pack rank on a decimal instead. */
  private val decileBucket = QueryDef(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"doc_id", $"n_chars".cast("long").as("nc"),
          ($"n_chars".cast("long") * lit(1000000000L) + $"doc_id").as("v"))
      val melted = docs.select(lit("all").as("gk"), $"v".cast("double").as("vv"))
      val bounds = Scale.rankPickCounted(s, melted, "gk", "vv",
        (_, n) => (1L to 9L).map(b => (n / 10) * b + math.min(b, n % 10)).distinct)._1
      val bArr = bounds.agg(sort_array(collect_list($"vv")).as("bs"))
      docs.crossJoin(broadcast(bArr))
        .withColumn("bucket",
          (lit(1) + size(filter($"bs", x => x < $"v".cast("double")))).cast("long"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"),
          min($"nc").as("min_chars"),
          max($"nc").as("max_chars"),
          sum($"nc").as("total_chars"))
        .orderBy($"bucket")
    },
    """WITH d AS (SELECT doc_id, n_chars,
      |                 n_chars * 1000000000 + doc_id AS v FROM documents),
      |r AS (SELECT n_chars,
      |             CAST(NTILE(10) OVER (ORDER BY v) AS BIGINT) AS bucket
      |      FROM d)
      |SELECT bucket, COUNT(*) AS n_docs,
      |       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      |       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
      |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Heavy-hitter census via Count-Min sketch ([[graft.functions.
    * Sketches]]): top-20 corpus words by exact count, each audited
    * against its CMS estimate. ORACLE-CHECKED since r8: the raw
    * estimate stays engine-internal (no DuckDB analog), but the CMS
    * guarantee (never under-counts; over-counts ≤ εN, ε = e/W) is
    * emitted as two boolean columns the oracle pins to literal TRUE —
    * a sketch bug now hash-mismatches the driver gate instead of
    * hiding behind a rows-only check. SketchSpec additionally pins the
    * envelope over ALL words, plus partial-merge invariance.
    *
    * Scale: the POINT of the sketch — the aggregation shuffle carries
    * one D×W counter matrix per partition (4 KB), never the keys; the
    * exact side here exists only to exhibit the envelope (production
    * uses the sketch precisely when that exact groupBy is too big).
    * The estimate lookup is a 20-row driver-bounded UDF over the
    * broadcast 1-row sketch — not a hot path. */
  private val heavyHitters = QueryDef(
    (s, dir) => {
      import s.implicits._
      val words = Tables.spread(Tables.documents(s, dir), "doc_id")
        .select(explode(split($"text", " ")).as("word"))
        .filter(length($"word") > 0)
        .select($"word", xxhash64($"word").as("h"))
      val cms = udaf(Sketches.countMin, org.apache.spark.sql.Encoders.scalaLong)
      val sketch = words.agg(cms($"h").as("sk"), count(lit(1)).as("n_total"))
      val top = words.groupBy($"word")
        .agg(count(lit(1)).as("n_exact"), first($"h").as("h"))
        .orderBy($"n_exact".desc, $"word").limit(20)
      val est = udf((sk: Seq[Long], h: Long) => Sketches.estimate(sk.toArray, h))
      // the estimate value is engine-internal (no DuckDB analog), so
      // the ORACLE-CHECKED columns are the top-20 identity + exact
      // counts PLUS the audited CMS envelope as booleans: the oracle
      // asserts literal TRUE for both, so an under-count or an
      // over-count beyond εN (ε = e/W) hash-mismatches the row. The
      // envelope arithmetic runs only engine-side — no float crosses
      // engines — and the fixture is deterministic, so the 1−e^−D
      // per-key probability is a fixed outcome, not flakiness.
      top.crossJoin(broadcast(sketch))
        .withColumn("n_est", est($"sk", $"h"))
        .select($"word", $"n_exact",
          ($"n_est" >= $"n_exact").as("cms_never_under"),
          (($"n_est" - $"n_exact").cast("double") <=
            lit(math.E / Sketches.W) * $"n_total".cast("double"))
            .as("cms_within_eps_n"))
        .orderBy($"n_exact".desc, $"word")
    },
    """WITH w AS (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |ww AS (SELECT word FROM w WHERE length(word) > 0),
      |top AS (
      |  SELECT word, COUNT(*) AS n_exact FROM ww GROUP BY 1
      |  ORDER BY n_exact DESC, word LIMIT 20)
      |SELECT word, n_exact,
      |       TRUE AS cms_never_under, TRUE AS cms_within_eps_n
      |FROM top ORDER BY n_exact DESC, word""".stripMargin)

  /** Filter-funnel census: how many documents per source survive each
    * successive quality gate, cumulatively — the ops dashboard every
    * corpus-cleaning pipeline reports ("stage 3 kills 40% of source X").
    * Gates (each implies all previous): g1 length floor, g2 mean-token-
    * length band, g3 lexical-diversity floor, g4 stopword evidence —
    * miniature versions of the Gopher rules q_gopher_filter applies
    * per-doc; here the output is the per-source SURVIVAL CURVE.
    *
    * Determinism: gate predicates compare exact integer token counts
    * (len·20 ≥ n etc. cross-multiplied to avoid division), so no float
    * enters the cumulative flags; rates are one IEEE division of exact
    * longs at the end.
    *
    * Scale: single pass — per-doc flags are narrow projections fused in
    * codegen, the rollup is a |sources|-row two-phase conditional agg;
    * no joins, no second scan of text. */
  private val filterFunnel = QueryDef(
    (s, dir) => {
      import s.implicits._
      val words = split($"text", " ")
      val stop = Seq("the", "a", "of", "and", "to", "in", "is")
      val d = Tables.spread(Tables.documents(s, dir), "doc_id")
        .select($"source",
          size(words).cast("long").as("n_tok"),
          length($"text").cast("long").as("n_chr"),
          size(array_distinct(words)).cast("long").as("n_dst"),
          size(filter(words, w => w.isInCollection(stop))).cast("long").as("n_stp"))
      // cross-multiplied integer gates — no float in the flags
      val g1 = $"n_tok" >= 20
      val g2 = g1 && $"n_chr" * 10 >= $"n_tok" * 30 && $"n_chr" * 10 <= $"n_tok" * 120
      val g3 = g2 && $"n_dst" * 10 >= $"n_tok" * 3
      val g4 = g3 && $"n_stp" > 0
      d.groupBy($"source")
        .agg(
          count(lit(1)).as("total"),
          count_if(g1).as("pass_len"),
          count_if(g2).as("pass_tok_len"),
          count_if(g3).as("pass_diversity"),
          count_if(g4).as("pass_stopword"))
        .withColumn("accept_rate",
          $"pass_stopword".cast("double") / $"total".cast("double"))
        .orderBy($"source")
    },
    """WITH f AS (
      |  SELECT source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |         CAST(length(text) AS BIGINT) AS n_chr,
      |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dst,
      |         CAST(len(list_filter(string_split(text, ' '),
      |           w -> w IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stp
      |  FROM documents),
      |h AS (
      |  SELECT f.source,
      |         f.n_tok >= 20 AS g1,
      |         f.n_tok >= 20 AND f.n_chr * 10 >= f.n_tok * 30
      |           AND f.n_chr * 10 <= f.n_tok * 120 AS g2,
      |         f.n_dst * 10 >= f.n_tok * 3 AS d3,
      |         f.n_stp > 0 AS s4
      |  FROM f)
      |SELECT source,
      |       COUNT(*) AS total,
      |       CAST(COUNT(*) FILTER (g1) AS BIGINT) AS pass_len,
      |       CAST(COUNT(*) FILTER (g2) AS BIGINT) AS pass_tok_len,
      |       CAST(COUNT(*) FILTER (g2 AND d3) AS BIGINT) AS pass_diversity,
      |       CAST(COUNT(*) FILTER (g2 AND d3 AND s4) AS BIGINT) AS pass_stopword,
      |       CAST(COUNT(*) FILTER (g2 AND d3 AND s4) AS DOUBLE) / COUNT(*) AS accept_rate
      |FROM h GROUP BY source ORDER BY source""".stripMargin)

  /** Size-weighted deterministic sample: top-5 documents per source by
    * rational hash priority u(doc) / n_chars — bigger docs draw
    * proportionally smaller priorities, so the sample tilts toward the
    * bytes that dominate training, while staying exactly reproducible
    * across engines and runs (the property `rand()` sampling can never
    * give an oracle). u is the q_shard_assign Knuth mix — pure BIGINT
    * arithmetic both engines evaluate identically; the priority is ONE
    * IEEE division of exact int64 operands; doc_id breaks ties.
    *
    * Scale: narrow projection → per-source top-5 collapses to
    * WindowGroupLimit (per-partition top-k before the source shuffle);
    * nothing global, no sort of the corpus. */
  private val sampleWeighted = QueryDef(
    (s, dir) => {
      import s.implicits._
      val u = ($"doc_id" * lit(2654435761L)) % lit(4294967296L)
      val w = Window.partitionBy($"source")
        .orderBy($"priority", $"doc_id")
      Tables.documents(s, dir)
        .select($"source", $"doc_id", $"n_chars",
          (u.cast("double") / $"n_chars".cast("double")).as("priority"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 5)
        .orderBy($"source", $"rk")
    },
    """WITH p AS (
      |  SELECT source, doc_id, n_chars,
      |         CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE)
      |           / CAST(n_chars AS DOUBLE) AS priority
      |  FROM documents),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
      |                     ORDER BY priority, doc_id) AS BIGINT) AS rk
      |      FROM p)
      |SELECT source, doc_id, n_chars, priority, rk
      |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin)

  /** Heaps'-law vocabulary-growth curve: cumulative distinct token
    * types vs cumulative token occurrences, bucketed by doc_id (50 docs
    * per bucket). Same first-occurrence decomposition as
    * q_window_count_distinct — a type counts once, at min(doc_id) — so
    * the heavy work is two hash aggregates over the exploded corpus;
    * the cumulative window runs over ≤|corpus|/50 bucket rows (a
    * partition-less window over an already-aggregated constant-ish
    * frame, not over the corpus). */
  private val vocabGrowth = QueryDef(
    (s, dir) => {
      import s.implicits._
      val toks = Tables.spread(Tables.documents(s, dir), "doc_id")
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .filter(length($"tok") > 0)
      val occ = toks.groupBy(expr("doc_id div 50").as("bucket"))
        .agg(count(lit(1)).as("n_tokens"))
      val types = toks.groupBy($"tok").agg(min($"doc_id").as("first_doc"))
        .groupBy(expr("first_doc div 50").as("bucket"))
        .agg(count(lit(1)).as("new_types"))
      occ.join(types, Seq("bucket"), "left")
        .withColumn("new_types", coalesce($"new_types", lit(0L)))
        .withColumn("cum_tokens",
          sum($"n_tokens").over(Window.orderBy($"bucket")))
        .withColumn("cum_types",
          sum($"new_types").over(Window.orderBy($"bucket")))
        .orderBy($"bucket")
    },
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
      |occ AS (
      |  SELECT doc_id // 50 AS bucket, COUNT(*) AS n_tokens
      |  FROM tf GROUP BY 1),
      |ty AS (
      |  SELECT first_doc // 50 AS bucket, COUNT(*) AS new_types FROM (
      |    SELECT tok, MIN(doc_id) AS first_doc FROM tf GROUP BY 1)
      |  GROUP BY 1)
      |SELECT o.bucket, o.n_tokens, COALESCE(t.new_types, 0) AS new_types,
      |       CAST(SUM(o.n_tokens) OVER (ORDER BY o.bucket) AS BIGINT)
      |         AS cum_tokens,
      |       CAST(SUM(COALESCE(t.new_types, 0)) OVER (ORDER BY o.bucket)
      |         AS BIGINT) AS cum_types
      |FROM occ o LEFT JOIN ty t ON o.bucket = t.bucket
      |ORDER BY o.bucket""".stripMargin)

  /** Zipf's-law fit over the word-frequency table — the power-law twin
    * of q_vocab_growth's Heaps' law (the two standard corpus-statistics
    * sign-offs): OLS slope of ln(frequency) on ln(rank) over the
    * top-1000 word types (the head, where Zipf holds; the tail bends
    * and would bias the fit). A healthy natural-language corpus reads
    * slope ≈ −1; template spam reads much flatter.
    *
    * Determinism (the q_autocorr discipline): ranks and counts are
    * exact integers under the TOTAL (f desc, word) order; each ln is
    * one correctly-rounded libm call quantized to 1e-6-unit BIGINTs via
    * floor(v·10⁶ + 0.5) on bit-identical doubles; all four moment sums
    * are exact decimal/HUGEINT arithmetic; the slope emits in integer
    * basis points via ONE integer division with both operands kept
    * POSITIVE (numerator flipped, sign restored after) so truncating
    * DIV and floor `//` agree.
    *
    * Scale: the corpus-sized work is the memoized wordFreq aggregate
    * (shared with the BPE family); the head extraction is
    * TakeOrderedAndProject(1000) — no global sort — and the rank window
    * + moment aggregate run over the bounded 1000-row frame. */
  private val zipfFit = QueryDef(
    (s, dir) => {
      import s.implicits._
      val top = wordFreq(s, dir).orderBy($"f".desc, $"word").limit(1000)
      top
        .withColumn("r", row_number()
          .over(Window.orderBy($"f".desc, $"word")).cast("long"))
        .select(
          expr("CAST(FLOOR(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5) " +
            "AS DECIMAL(19,0))").as("x"),
          expr("CAST(FLOOR(ln(CAST(f AS DOUBLE)) * 1000000 + 0.5) " +
            "AS DECIMAL(19,0))").as("y"))
        .agg(count(lit(1)).cast("decimal(19,0)").as("n"),
          sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
        .selectExpr("CAST(n AS BIGINT) AS n_points",
          "CAST(-((10000 * (sx * sy - n * sxy)) DIV (n * sxx - sx * sx)) " +
            "AS BIGINT) AS slope_bp")
    },
    """WITH w AS (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents),
      |wf AS (SELECT word, COUNT(*) AS f FROM w GROUP BY 1),
      |top AS (SELECT word, f FROM wf ORDER BY f DESC, word LIMIT 1000),
      |rk AS (SELECT f, CAST(ROW_NUMBER() OVER (ORDER BY f DESC, word)
      |                 AS BIGINT) AS r FROM top),
      |q AS (SELECT CAST(FLOOR(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5)
      |               AS HUGEINT) AS x,
      |             CAST(FLOOR(ln(CAST(f AS DOUBLE)) * 1000000 + 0.5)
      |               AS HUGEINT) AS y
      |      FROM rk),
      |s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
      |             SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx FROM q)
      |SELECT CAST(n AS BIGINT) AS n_points,
      |       CAST(-((10000 * (sx * sy - n * sxy)) // (n * sxx - sx * sx))
      |            AS BIGINT) AS slope_bp
      |FROM s""".stripMargin)

  /** Engine-native mergeable top-k sketch (Spark 4
    * approx_top_k_accumulate → _combine → _estimate) — the built-in
    * twin of the custom CMS heavy-hitters UDAF (q_heavy_hitters), and
    * the same pre-aggregate-then-merge shape as q_hll_union: each lang
    * partition accumulates a bounded frequent-items state once, the
    * rollup COMBINES states instead of re-scanning tokens. On this
    * fixture the tracked capacity exceeds the vocabulary, so the
    * estimates are provably exact — emitted as the q_agg_approx-style
    * boolean (sketch count ≡ exact count per top-20 word) the oracle
    * pins to literal TRUE; the words themselves order by the exact
    * total (f desc, word) so ties can't flap the hash. A combine bug
    * or tracking regression reds the driver gate. */
  private val topkSketch = QueryDef(
    (s, dir) => {
      import s.implicits._
      val parts = Tables.documents(s, dir)
        .select($"lang", explode(split($"text", " ")).as("word"))
        .groupBy($"lang")
        .agg(expr("approx_top_k_accumulate(word, 1000)").as("st"))
      // coalesce(1) is load-bearing, not cosmetic: Spark 4.1.2's
      // ApproxTopKCombine.serialize MatchErrors on an EMPTY partial
      // buffer (genSketchSerDe sees a null item type), so any empty
      // partition of this frame kills the job once AQE's coalescing is
      // off (Bench/QTimer config). The frame is |langs| KB-scale
      // sketch states, so one partition is also simply the right plan.
      val est = parts.coalesce(1)
        .agg(expr("approx_top_k_estimate(approx_top_k_combine(st), 100)")
          .as("top"))
        .select(explode($"top").as("e"))
        .select($"e.item".as("word"), $"e.count".cast("long").as("est"))
      wordFreq(s, dir).orderBy($"f".desc, $"word").limit(20)
        .join(est, Seq("word"), "left_outer")
        .select($"word", $"f".as("exact_count"),
          ($"est".isNotNull && $"est" === $"f").as("sketch_exact"))
        .orderBy($"exact_count".desc, $"word")
    },
    """WITH w AS (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents),
      |wf AS (SELECT word, COUNT(*) AS f FROM w GROUP BY 1)
      |SELECT word, f AS exact_count, TRUE AS sketch_exact
      |FROM wf ORDER BY exact_count DESC, word LIMIT 20""".stripMargin)

  val defs: Seq[(String, QueryDef)] = Seq(
    "q_topk_sketch" -> topkSketch,
    "q_zipf_fit" -> zipfFit,
    "q_vocab_growth" -> vocabGrowth,
    "q_sample_weighted" -> sampleWeighted,
    "q_filter_funnel" -> filterFunnel,
    "q_heavy_hitters" -> heavyHitters,
    "q_decile_bucket" -> decileBucket,
    "q_lang_confusion" -> langConfusion,
    "q_shard_assign" -> shardAssign,
    "q_bigram_logprob" -> bigramLogprob,
    "q_backoff_logprob" -> backoffLogprob,
    "q_dedup_lines" -> dedupLines,
    "q_ngram_novelty" -> ngramNovelty,
    "q_bpe_pairs" -> bpePairs,
    "q_bpe_merge" -> bpeMerge,
    "q_bpe_train" -> bpeTrain,
    "q_bpe_encode" -> bpeEncode,
    "q_blocklist_filter" -> blocklistFilter,
    "q_redact" -> redact,
    "q_pii_scrub" -> piiScrub,
    "q_doc_chunks" -> docChunks,
    "q_source_overlap" -> sourceOverlap,
    "q_dsir_weight" -> dsirWeight,
    "q_token_entropy" -> tokenEntropy,
    "q_prefix_cluster" -> prefixCluster,
    "q_doc_logprob" -> docLogprob,
    "q_perplexity_bucket" -> perplexityBucket,
    "q_calibration_bins" -> calibrationBins,
    "q_auc_rank" -> aucRank,
    "q_inverted_index" -> invertedIndex,
    "q_collocation_pmi" -> collocationPmi,
    "q_vocab_coverage" -> vocabCoverage,
    "q_text_repetition" -> textRepetition,
    "q_gopher_filter" -> gopherFilter,
    "q_text_stats" -> textStats,
    "q_dedup_exact" -> dedupExact,
    "q_text_tokens" -> textTokens,
    "q_text_quality" -> textQuality,
    "q_lang_id" -> langId,
    "q_edit_distance" -> editDistance,
    "q_tfidf" -> tfidf,
    "q_sample_stratified" -> sampleStratified,
    "q_bm25_topk" -> bm25TopK,
    "q_split_assign" -> splitAssign,
    "q_seq_pack" -> seqPack,
    "q_corpus_mix" -> corpusMix,
    "q_temperature_mix" -> temperatureMix)
}
