package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes the ten fixture tables (the schemas and value domains
  * FIXTURES.md documents) at sf0.1 row counts, one single-row-group
  * parquet file per table, as the engine's own fixtures are laid out.
  *
  * Every value is a pure function of the row id and a per-column salt
  * (`xxhash64`), so the tables are identical on every machine and for
  * every partitioning. They are deliberately independent of the run
  * seed: the analytics reference digests in `analytics_refs.tsv` were
  * recorded from these exact tables after a DuckDB oracle check.
  */
object FixtureGen {
  /** Deterministic non-negative pseudo-random integer in [0, n). */
  private def h(salt: Int, n: Long, c: Column = col("id")): Column =
    pmod(xxhash64(c, lit(salt)), lit(n))

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (h(salt, values.size.toLong) + 1).cast("int"))

  /** Two-decimal double in [lo, lo + span / 100). */
  private def money(salt: Int, lo: Double, span: Long): Column =
    (lit(lo) + h(salt, span).cast("double") / 100.0).cast("decimal(12,2)").cast("double")

  /** Midnight timestamps (no zone) uniformly over [start, start + days). */
  private def day(salt: Int, start: String, days: Long): Column =
    date_add(lit(start).cast("date"), h(salt, days).cast("int")).cast("timestamp_ntz")

  private val vocab = Seq("a", "the", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "value", "vector",
    "window")

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    def range(n: Long) = spark.range(0L, n, 1L, 4)
    val region = range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))
    val nation = range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = range(15000).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(1, 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 1099999L).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    val supplier = range(1000).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h(4, 25).cast("int").as("s_nationkey"),
      money(5, -999.99, 1099999L).as("s_acctbal"))
    val part = range(20000).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, Seq("blue", "large", "hot", "small", "red",
        "green", "tiny", "cold", "heavy", "light", "old", "new", "steel")),
        pick(7, Seq("ring", "bolt", "anvil", "widget", "gear"))).as("p_name"),
      concat(lit("Brand#"), h(8, 25) + 1).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (h(10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000).cast("double") / 10.0)
        .cast("decimal(6,1)").cast("double").as("p_retailprice"))
    val orders = range(150000).select(col("id").as("o_orderkey"),
      h(11, 15000).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(13, 1000.0, 49900000L).as("o_totalprice"),
      day(14, "1995-01-01", 2404L).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    val lineitem = range(600000).select(h(16, 150000).as("l_orderkey"),
      h(17, 20000).as("l_partkey"), h(18, 1000).as("l_suppkey"),
      (h(19, 7) + 1).cast("int").as("l_linenumber"),
      (h(20, 50) + 1).cast("double").as("l_quantity"),
      money(21, 900.0, 10410000L).as("l_extendedprice"),
      (h(22, 11).cast("double") / 100.0).cast("decimal(3,2)").cast("double").as("l_discount"),
      (h(23, 9).cast("double") / 100.0).cast("decimal(3,2)").cast("double").as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, Seq("F", "O")).as("l_linestatus"),
      day(26, "1995-01-02", 2498L).as("l_shipdate"))
    // ~26 s apart on average over 2024-01-01 .. 2024-01-30, increasing
    // with event_id like the fixture's stream, with microsecond jitter
    val events = range(100000).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 25920000L +
        h(27, 25920000L)).cast("timestamp_ntz").as("ts"),
      h(28, 1500).as("user_id"),
      pick(29, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      money(30, 0.0, 56022L).as("value"),
      format_string("{\"k\": %d}", h(31, 100)).as("props"))
    val words = transform(sequence(lit(1), (h(32, 68) + 8).cast("int")),
      i => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(col("id"), i, lit(33)), lit(vocab.size.toLong)) + 1).cast("int")))
    val baseDocs = range(5000).select(col("id").as("doc_id"),
      array_join(words, " ").as("text"),
      pick(34, Seq("en", "es", "zh", "de", "fr")).as("lang"),
      concat(lit("src"), h(35, 20)).as("source"))
    // one document in ten repeats an earlier one with a word appended,
    // so the near-duplicate pipelines find real candidate pairs
    val src = baseDocs.select(col("doc_id").as("src_id"), col("text").as("src_text"))
    val documents = baseDocs
      .withColumn("src_id", when(h(36, 10, col("doc_id")) === 0,
        greatest(lit(0L), col("doc_id") - 1 - h(37, 50, col("doc_id")))))
      .join(src, Seq("src_id"), "left")
      .select(col("doc_id"),
        when(col("src_text").isNull, col("text")).otherwise(concat_ws(" ",
          col("src_text"), element_at(array(vocab.map(lit): _*),
            (h(38, vocab.size.toLong, col("doc_id")) + 1).cast("int")))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // ten label clusters: a per-label centre plus per-row noise
    val embeddings = range(2000).withColumn("label", h(39, 10).cast("int"))
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((pmod(xxhash64(col("label"), j, lit(40)), lit(40001L)) - 20000)
            .cast("double") / 100000.0 +
            (pmod(xxhash64(col("id"), j, lit(41)), lit(20001L)) - 10000)
              .cast("double") / 100000.0).cast("float")).as("embedding"),
        col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  /** The tables, generated on first use into `<root>/tables-<digest of
    * this generator's bytecode>` and reused by later runs: they do not
    * depend on the seed, and generating them is input staging, not work
    * of the program under test. A changed generator gets a new
    * directory. */
  def cached(spark: SparkSession, root: java.io.File): String = {
    val in = getClass.getResourceAsStream("/graft/perfbench/FixtureGen$.class")
    val digest = try java.security.MessageDigest.getInstance("SHA-256")
      .digest(in.readAllBytes()).take(8).map(b => f"$b%02x").mkString
    finally in.close()
    val dir = new java.io.File(root, s"tables-$digest")
    if (!dir.isDirectory) {
      val tmp = new java.io.File(root, s"tables-$digest.tmp")
      Fs.rm(tmp)
      write(spark, tmp.getPath)
      java.nio.file.Files.move(tmp.toPath, dir.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    dir.getPath
  }

  /** Writes every table as the single file `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String): Unit =
    tables(spark).foreach { case (name, df) =>
      val staging = new java.io.File(s"$dir/$name.staging")
      df.coalesce(1).write.mode("overwrite").parquet(staging.getPath)
      val part = staging.listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$dir/$name.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Fs.rm(staging)
    }
}
