package graft

/** Degenerate-input sweep: EVERY declared query must run (possibly to an
  * empty result, never to a crash) against a one-row-per-table copy of
  * the fixture. At 100 TB a partition, a tenant, or a backfill slice
  * routinely degenerates to near-empty input; an operator that divides
  * by an empty cohort, head()s an empty frame, or windows over a
  * missing history must degrade to "no rows", not kill the job. (This
  * sweep caught q_ks_test's empty-cohort divide-by-zero.) */
class DegenerateInputSpec extends SparkSpec {

  test("all declared queries survive one-row-per-table input") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tiny").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").limit(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val failed = SparkEntry.all.keys.toSeq.sorted.flatMap { name =>
      try { SparkEntry.all(name).fn(spark, dir).collect(); None }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName} " +
          Option(e.getMessage).getOrElse("").take(120))
      }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
    // one document and one line item leave the memoized lshCandidates
    // and basketPairCounts lineages EMPTY: their consumers run over an
    // empty persisted (hash-partitioned) build and return no rows
    Seq("q_dedup_near", "q_basket_lift").foreach { q =>
      assert(SparkEntry.all(q).fn(spark, dir).count() === 0, q)
    }
  }

  test("BPE train/encode degrade gracefully when the pair census is " +
    "empty (every word already a single symbol)") {
    import org.apache.spark.sql.functions.{length, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe1ch").toString
    // all-single-char words: round 1's adjacent-pair census is EMPTY, so
    // training must emit the merges learned so far (none) instead of
    // throwing on head() of an empty argmax (ADVICE r10 #2)
    spark.read.parquet(s"$sf/documents.parquet").limit(5)
      .withColumn("text", lit("a b c a b"))
      .withColumn("n_chars", length(lit("a b c a b")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merges = SparkEntry.all("q_bpe_train").fn(spark, dir).collect()
    assert(merges.isEmpty, s"expected 0 merges, got ${merges.length}")
    // the encode half applies an empty merge chain: identity encoding
    val enc = SparkEntry.all("q_bpe_encode").fn(spark, dir).collect()
    assert(enc.length === 5)
    assert(enc.forall(r => r.getLong(1) === r.getLong(2)),
      "empty merge chain must leave symbol counts unchanged")
  }

  test("q_dedup_minhash drops a document too short for one shingle, " +
    "as its oracle's GROUP BY over shingles does") {
    import org.apache.spark.sql.functions.{col, length, lit, min, when}
    val dir = java.nio.file.Files.createTempDirectory("graft_short_doc").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(5).cache()
    val shortId = docs.agg(min("doc_id")).head().get(0)
    val text = when(col("doc_id") === lit(shortId), lit("two words")).otherwise(col("text"))
    docs.withColumn("text", text)
      .withColumn("n_chars", length(text).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    docs.unpersist()
    val sig = SparkEntry.all("q_dedup_minhash").fn(spark, dir).collect()
    assert(sig.length === 4, sig.mkString("\n"))
    assert(!sig.exists(_.get(0) == shortId))
    assert(sig.forall(r => (1 until r.length).forall(i => !r.isNullAt(i))),
      sig.mkString("\n"))
  }
}
