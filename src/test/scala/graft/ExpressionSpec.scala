package graft

import org.apache.spark.sql.functions._
import graft.ops.VectorOps

/** Native codegen kernels (graft.functions.*) must be bit-identical to
  * the built-in higher-order-function formulation — they are a physical
  * optimization, never a semantic change — and every kernel-aware query
  * must plan them. */
class ExpressionSpec extends SparkSpec {

  test("graft_dot / graft_l2norm registered via SparkSessionExtensions") {
    assert(spark.catalog.functionExists("graft_dot"))
    assert(spark.catalog.functionExists("graft_l2norm"))
  }

  test("native dot == built-in fold, bit for bit, on the fixture vectors") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(200)
    val pairs = e.select($"vec_id".as("ida"), $"embedding".as("ea"))
      .crossJoin(e.select($"vec_id".as("idb"), $"embedding".as("eb")))
      .filter($"ida" < $"idb").limit(5000)
    val native = call_function("graft_dot", $"ea", $"eb")
    val builtin = HofFolds.dot(VectorOps.vcol($"ea"), VectorOps.vcol($"eb"))
    val diff = pairs.select(native.as("n"), builtin.as("b"))
      .filter($"n" =!= $"b") // exact compare — no tolerance
    assert(diff.count() === 0)
  }

  test("native l2norm == built-in fold, bit for bit") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val native = call_function("graft_l2norm", $"embedding")
    val builtin = HofFolds.l2(VectorOps.vcol($"embedding"))
    assert(e.select(native.as("n"), builtin.as("b")).filter($"n" =!= $"b").count() === 0)
  }

  test("native kernels handle nulls and mixed float/double arrays") {
    import spark.implicits._
    val df = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(3.0, 4.0))),
      (None, Some(Array(1.0, 1.0)))).toDF("a", "b")
    val r = df.select(call_function("graft_dot", $"a", $"b").as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(r(0) === Some(11.0)) // 1*3 + 2*4
    assert(r(1) === None)       // null array → null, no crash
  }

  test("native dot on length-mismatched arrays == the zip_with fallback: NULL") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 1.0)), // left longer
      (Array(1.0), Array(2.0, 5.0)),           // right longer
      (Array(7.0, 7.0), Array(2.0, 3.0)))      // matched control
      .toDF("a", "b")
    def read(c: org.apache.spark.sql.Column): Seq[Option[Double]] =
      df.select(c.as("d")).collect().toSeq
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val native = read(call_function("graft_dot", $"a", $"b"))
    val fold = read(HofFolds.dot(VectorOps.vcol($"a"), VectorOps.vcol($"b")))
    assert(native === Seq(None, None, Some(35.0)))
    assert(native === fold,
      "kernel and built-in fold must agree on malformed input")
  }

  test("native string hashes == built-in folds on the documents corpus") {
    import spark.implicits._
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val P = 1000000007L
    val fpHof = aggregate(
      sequence(lit(1), length($"text")), lit(0L),
      (acc, i) => (acc * 31L + ascii($"text".substr(i, lit(1))).cast("long")) % P)
    assert(d.select(call_function("graft_fp", $"text").as("n"), fpHof.as("b"))
      .filter($"n" =!= $"b").count() === 0)
  }

  test("native string hashes == built-in folds on mixed-script / supplementary-plane text") {
    import spark.implicits._
    // all three paths (native kernel, HOF fold, DuckDB oracle) iterate
    // CODEPOINTS with full codepoint values — Spark and DuckDB both define
    // length/substr/ascii over codepoints (ascii('𝄞') = 119070 in
    // both engines). Pin native == fold beyond ASCII: accents, CJK,
    // emoji, and musical symbols (supplementary plane, surrogate pairs).
    val texts = Seq(
      "café naïve résumé",
      "日本語のテスト",
      "mixed 𝄞 ascii 😀 text",
      "𝄞𝄟𝄠 leading supplementary",
      "é", "", "a𝄞b")
    val d = texts.toDF("text")
    val P = 1000000007L
    val fpHof = aggregate(
      sequence(lit(1), length($"text")), lit(0L),
      (acc, i) => (acc * 31L + ascii($"text".substr(i, lit(1))).cast("long")) % P)
    assert(d.select(call_function("graft_fp", $"text").as("n"), fpHof.as("b"))
      .filter($"n" =!= $"b").count() === 0)
  }

  test("native window-gram hashes == xxhash64-over-slice transform, bit for bit") {
    import spark.implicits._
    val d = spark.read.parquet(s"$sf/documents.parquet")
      // synthetic edge docs: < 8 words (empty array), exactly 8, empty
      // words from double spaces, trailing space, supplementary plane
      .select($"text").unionByName(Seq(
        "one two three", "a b c d e f g h", "a  b c d e f g  h i",
        "tail space a b c d e f g ", "𝄞 music 𝄞 a b c d e f"
      ).toDF("text"))
    val w = split($"text", " ")
    val m = greatest(size(w) - 7, lit(0))
    val hof = when(m > 0,
      transform(sequence(lit(1), m), i => xxhash64(slice(w, i, lit(8)))))
      .otherwise(array().cast("array<bigint>"))
    assert(d.select(call_function("graft_window_hashes", $"text").as("n"), hof.as("b"))
      .filter(not($"n" <=> $"b")).count() === 0)
  }

  test("native char-trigrams == ascii/substr transform, bit for bit") {
    import spark.implicits._
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select($"text").unionByName(Seq(
        "", "a", "ab", "abc", "abcd", "𝄞a𝄞b", "a b  c"
      ).toDF("text"))
    def cp(i: org.apache.spark.sql.Column) =
      ascii($"text".substr(i, lit(1))).cast("long")
    val hof = transform(
      sequence(lit(1), greatest(length($"text") - 2, lit(1))),
      i => (cp(i) * 1021L + cp(i + 1)) * 1021L + cp(i + 2))
    assert(d.select(call_function("graft_char3grams", $"text").as("n"), hof.as("b"))
      .filter(not($"n" <=> $"b")).count() === 0)
  }

  test("native intersect-card == size(array_intersect) on distinct arrays") {
    import spark.implicits._
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", array_distinct(split($"text", " ")).as("w"))
    val pairs = d.select($"doc_id".as("da"), $"w".as("wa"))
      .crossJoin(d.select($"doc_id".as("db"), $"w".as("wb")))
      .filter($"da" < $"db").limit(3000)
    val diff = pairs.select(
      call_function("graft_intersect_card", $"wa", $"wb").as("n"),
      size(array_intersect($"wa", $"wb")).cast("long").as("b"))
      .filter($"n" =!= $"b")
    assert(diff.count() === 0)
    // empty-array edge
    val e = Seq((Array("a", "b"), Array.empty[String])).toDF("x", "y")
      .select(call_function("graft_intersect_card", $"x", $"y").as("n"))
      .as[Long].head()
    assert(e === 0L)
  }

  test("native intersect-card on LONG arrays == size(array_intersect)") {
    import spark.implicits._
    // the packed-gram variant (array<bigint> dispatch)
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", array_distinct(transform(
        sequence(lit(1), greatest(length($"text") - 3, lit(1))),
        i => ascii($"text".substr(i, lit(1))).cast("long") * 1021L +
          ascii($"text".substr(i + 1, lit(1))).cast("long"))).as("g"))
    val pairs = d.select($"doc_id".as("da"), $"g".as("ga"))
      .crossJoin(d.select($"doc_id".as("db"), $"g".as("gb")))
      .filter($"da" < $"db").limit(3000)
    val diff = pairs.select(
      call_function("graft_intersect_card", $"ga", $"gb").as("n"),
      size(array_intersect($"ga", $"gb")).cast("long").as("b"))
      .filter($"n" =!= $"b")
    assert(diff.count() === 0)
    val e = Seq((Array(1L, 2L), Array.empty[Long])).toDF("x", "y")
      .select(call_function("graft_intersect_card", $"x", $"y").as("n"))
      .as[Long].head()
    assert(e === 0L)
  }

  test("fused shingle-hashes kernel == split/transform/array_distinct HOF chain") {
    import spark.implicits._
    // (texts with ≥3 words only: the HOF chain's sequence(1, 0) turns
    // DESCENDING for shorter texts and element_at faults under ANSI —
    // the kernel's empty-array behavior for those is asserted below)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select($"text")
      .unionByName(Seq(
        "a b c",                   // single shingle
        "a  b c d",                // empty token from double space
        "exactlyelevenX y z tail", // 12-codepoint boundary inside word 1
        "𝄞 music 𝄢 clef notes",    // supplementary-plane codepoints
        "dup dup dup dup dup"      // duplicate shingles -> distinct
      ).toDF("text"))
    val w = split($"text", " ")
    val hof = array_distinct(transform(
      transform(
        sequence(lit(1), greatest(size(w) - 2, lit(0))),
        i => concat_ws(" ",
          element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))),
      sh => aggregate(
        sequence(lit(1), least(length(sh), lit(12))),
        lit(0L),
        (acc, i) => acc + ascii(sh.substr(i, lit(1))).cast("long") *
          pow(lit(13.0), (i - 1).cast("double")).cast("long"))))
    val diff = docs.select(
      call_function("graft_shingle_hashes", $"text").as("k"),
      hof.as("h"))
      .filter(not($"k" <=> $"h"))
    assert(diff.count() === 0, diff.collect().take(3).mkString("; "))
    // degenerate inputs: fewer than 3 words → EMPTY shingle set
    val empties = Seq("", "one", "one two").toDF("text")
      .select(size(call_function("graft_shingle_hashes", $"text")).as("n"))
      .as[Int].collect()
    assert(empties.toSeq === Seq(0, 0, 0))
  }

  test("fused chargram-hashes kernel == ascii/substr/array_distinct HOF chain") {
    import spark.implicits._
    def cp(i: org.apache.spark.sql.Column) =
      ascii($"text".substr(i, lit(1))).cast("long")
    val hof = array_distinct(transform(
      sequence(lit(1), greatest(length($"text") - 3, lit(1))),
      i => ((cp(i) * 1021L + cp(i + 1)) * 1021L + cp(i + 2)) * 1021L + cp(i + 3)))
    val corpus = graft.util.Tables.documents(spark, sf).select($"text")
      .unionByName(Seq("", "a", "ab", "abc", "abcd", "abcde",
        "héllo wörld ambiguë", "日本語 テスト").toDF("text"))
    val diff = corpus.select(
      call_function("graft_chargram_hashes", $"text").as("k"), hof.as("h"))
      .filter(not($"k" <=> $"h"))
    assert(diff.count() === 0, diff.collect().take(3).mkString("; "))
  }

  test("every kernel-aware query plans its native kernel (not interpreted HOFs)") {
    import graft.functions._
    import org.apache.spark.sql.catalyst.plans.QueryPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // one row per builder that calls a graft kernel: the query and the
    // kernel class its optimized plan must contain. Persisted lineages
    // appear as InMemoryRelation, whose cached plan is an inner child,
    // and an adaptive cached plan keeps its physical plan as inputPlan.
    val rows: Seq[(String, Class[_])] = Seq(
      "q_sim_topk" -> classOf[DotProduct],
      "q_lang_id" -> classOf[CharTrigrams],
      "q_xml_extract" -> classOf[XmlFirstLong],
      "q_basket_lift" -> classOf[PackedPairs],
      "q_media_features" -> classOf[DotProduct],
      "q_dedup_minhash" -> classOf[WordShingleHashes],
      "q_dedup_near" -> classOf[ArrayIntersectCard],
      "q_text_fingerprint" -> classOf[RollingHash],
      "q_dedup_ngram" -> classOf[CharGramHashes],
      "q_dedup_ngram" -> classOf[ArrayIntersectCard],
      "q_dedup_substring" -> classOf[WindowGramHashes],
      "q_dedup_containment" -> classOf[ArrayIntersectCard])
    def has(p: QueryPlan[_], cls: Class[_]): Boolean =
      p.expressions.exists(_.exists(cls.isInstance)) ||
        (p.children ++ p.innerChildren).exists {
          case a: AdaptiveSparkPlanExec => has(a.inputPlan, cls)
          case q: QueryPlan[_] => has(q, cls)
          case _ => false
        }
    val missing = rows.filterNot { case (q, cls) =>
      has(SparkEntry.all(q).fn(spark, sf).queryExecution.optimizedPlan, cls)
    }
    assert(missing.isEmpty, missing.map { case (q, c) => s"$q lacks ${c.getSimpleName}" })
  }

  test("graft_pairs packed kernel == interpreted pair HOF, and rejects " +
    "ids outside the 32-bit pack") {
    import spark.implicits._
    val baskets = graft.util.Tables.lineitem(spark, sf)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("ps"))
    val kernel = baskets
      .select(explode(call_function("graft_pairs", $"ps")).as("pp"))
      .select(shiftright($"pp", 32).as("pa"),
        $"pp".bitwiseAND(lit(0xFFFFFFFFL)).as("pb"))
    val hof = baskets.select(explode(expr(
        """flatten(transform(ps, (a, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |    b -> struct(a AS pa, b AS pb))))""".stripMargin)).as("p"))
      .select($"p.pa", $"p.pb")
    assert(kernel.count() === hof.count())
    assert(kernel.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(kernel).count() === 0)
    val e = intercept[Exception] {
      Seq(Seq(1L, 1L << 40)).toDF("ps")
        .select(call_function("graft_pairs", $"ps")).collect()
    }
    assert(e.getMessage != null)
  }
}
