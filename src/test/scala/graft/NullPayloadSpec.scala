package graft

import org.apache.spark.sql.functions._

/** Null-payload sweep: every declared query must run against a fixture
  * copy whose PAYLOAD columns (text, props, value, embedding, names,
  * prices…) are NULL on every second row — keys and timestamps stay
  * real. Missing payloads are in-contract at ingest (the quarantining
  * sources pass them through as nulls); an operator must skip them the
  * way SQL aggregates do, never crash. (This sweep caught the
  * rank-pick family failing on null measures — q_percentile /
  * q_mad_outliers / q_winsorized_mean now null-skip like the built-in
  * percentile, and Scale.rankPickCounted drops null (group, value) rows
  * with a documented precounted contract.) */
class NullPayloadSpec extends SparkSpec {

  test("all declared queries survive nulls in every payload column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nulls").toString
    val nullable = Map(
      "events" -> Seq("value", "props", "event_type"),
      "documents" -> Seq("text", "lang", "source"),
      "embeddings" -> Seq("embedding", "label"),
      "orders" -> Seq("o_totalprice", "o_orderpriority", "o_orderstatus"),
      "lineitem" -> Seq("l_extendedprice", "l_discount", "l_quantity"),
      "customer" -> Seq("c_acctbal", "c_mktsegment", "c_name"),
      "part" -> Seq("p_retailprice", "p_brand", "p_type"),
      "supplier" -> Seq("s_name"), "nation" -> Seq("n_name"),
      "region" -> Seq("r_name"))
    nullable.foreach { case (t, cols) =>
      val df = spark.read.parquet(s"$sf/$t.parquet").limit(20)
        .withColumn("_rn", monotonically_increasing_id())
      cols.foldLeft(df) { (d, c) =>
        d.withColumn(c, when(col("_rn") % 2 === 0, col(c))
          .otherwise(lit(null).cast(d.schema(c).dataType)))
      }.drop("_rn").write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val failed = SparkEntry.all.keys.toSeq.sorted.flatMap { name =>
      try { SparkEntry.all(name).fn(spark, dir).collect(); None }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName} " +
          Option(e.getMessage).getOrElse("").take(120))
      }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
