package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict the dump to these query names
    // (local iteration only — the driver always passes exactly two)
    val only: Set[String] = args.drop(2).toSet
    val spark = graft.util.Session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Environment probe for oracle-engine forensics (r3's red was a
    // driver-DuckDB-build divergence diagnosable only by rerunning):
    // probe SQL + the values DuckDB 1.0.0 returns locally, in a
    // SEPARATE file so the driver's compare loop never executes it as a
    // phantom query. tools/check.py runs the probes and flags any delta
    // — a future driver-vs-local hash divergence is then explainable
    // from artifacts alone by running these statements on that build.
    // Raw footer type of events.ts BEFORE Tables.events normalization —
    // Spark ≤4.0 + nanosAsLong → bigint, 4.1+ → timestamp_ntz. Recorded
    // so the next silent Spark upgrade (the r5 red) is diagnosable from
    // round artifacts alone.
    val eventsTsArrival =
      try spark.read.parquet(s"$sfDir/events.parquet").schema("ts")
        .dataType.simpleString
      catch { case e: Throwable => s"unreadable: ${e.getClass.getSimpleName}" }
    val probes = Seq(
      ("duckdb_version", "SELECT version() AS v", "(build-specific)"),
      ("spark_version", s"SELECT 'spark ${spark.version}' AS v",
        "(build-specific)"),
      ("events_ts_arrival", s"SELECT '$eventsTsArrival' AS v",
        "(build-specific)"),
      ("grouping_multiarg_under_sets",
        "SELECT CAST(GROUPING(a, b) AS BIGINT) AS gid FROM (VALUES (1, 2)) t(a, b) " +
          "GROUP BY GROUPING SETS ((a, b), (a), (b), ()) ORDER BY 1",
        "0,1,2,3"),
      ("grouping_multiarg_under_cube",
        "SELECT CAST(GROUPING(a, b) AS BIGINT) AS gid FROM (VALUES (1, 2)) t(a, b) " +
          "GROUP BY CUBE (a, b) ORDER BY 1",
        "0,1,2,3"),
      ("decimal_round_half",
        "SELECT CAST(ROUND(CAST(1.00005 AS DECIMAL(28,10)), 4) AS DOUBLE) AS v",
        "1.0001"),
      ("decimal_neg_round_half",
        "SELECT CAST(ROUND(CAST(-1.00005 AS DECIMAL(28,10)), 4) AS DOUBLE) AS v",
        "-1.0001"),
      ("big_unscaled_double_cast",
        "SELECT CAST(CAST(123456789.0123456789 AS DECIMAL(28,10)) AS DOUBLE) AS v",
        "123456789.01234567"))
    val probeJson = probes.map { case (k, sql, local) =>
      s"${q(k)}: {${q("sql")}: ${q(sql)}, ${q("local_1_0_0")}: ${q(local)}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/env_probe.json"), probeJson)
    spark.stop()
  }
}
