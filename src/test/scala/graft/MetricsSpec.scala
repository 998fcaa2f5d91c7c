package graft

import graft.util.Metrics
import org.apache.spark.sql.functions._

/** The observability surface: the listener captures actions with
  * plausible metrics, the report round-trips as a DataFrame, scan-level
  * file/byte metrics surface for parquet reads, and tagged jobs carry
  * their task counts. `captures` drains the listener bus, so nothing
  * here polls. */
class MetricsSpec extends SparkSpec {

  test("listener captures actions; parquet scans report files and bytes") {
    Metrics.install(spark) // a second install (the session made the first)
    Metrics.reset(spark)
    val n = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_totalprice") > 0).count()
    assert(n > 0)
    val caps = Metrics.captures(spark)
    assert(caps.map(_.action) === Seq("count"), caps.toString)
    val c = caps.head
    assert(c.filesRead > 0 && c.bytesRead > 0, c.toString)
    assert(c.outputRows === 1L, c.toString)
    assert(c.durationMs >= 0 && c.error.isEmpty, c.toString)
  }

  test("a nation read and collect each run one one-task job; the collect " +
    "captures its 25 rows") {
    Metrics.reset(spark)
    // the read infers the schema from the file footer in a job of its own
    val (nation, readJobs) = Metrics.jobsDuring(spark)(
      spark.read.parquet(s"$sf/nation.parquet"))
    assert(readJobs.map(_.tasks) === Seq(1), readJobs.toString)
    val (rows, jobs) = Metrics.jobsDuring(spark)(nation.collect())
    assert(rows.length === 25)
    assert(jobs.map(_.tasks) === Seq(1), jobs.toString)
    assert(jobs.head.endMs >= jobs.head.startMs, jobs.toString)
    val caps = Metrics.captures(spark)
    assert(caps.map(c => (c.action, c.outputRows)) === Seq(("collect", 25L)),
      caps.toString)
  }

  test("a job with no spark.job.description is named by its last stage's " +
    "operation scopes") {
    val df = SparkEntry.all("q_daily_avg").fn(spark, sf)
    val (_, jobs) = Metrics.jobsDuring(spark)(df.collect())
    assert(jobs.nonEmpty)
    assert(jobs.forall(_.description.nonEmpty), jobs.toString)
    // a set description wins
    spark.sparkContext.setJobDescription("nation count")
    val (_, named) = try Metrics.jobsDuring(spark)(
      spark.read.parquet(s"$sf/nation.parquet").collect())
      finally spark.sparkContext.setJobDescription(null)
    assert(named.nonEmpty && named.forall(_.description == "nation count"), named.toString)
  }

  test("a range exchange's sampling job and its shuffle-map job get " +
    "different descriptions") {
    // no AQE broadcast threshold turns GatherSmallSort off, so the final
    // ORDER BY keeps its range exchange
    val key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    def run() = {
      spark.conf.set(key, "-1")
      try Metrics.jobsDuring(spark)(SparkEntry.all("q_daily_avg").fn(spark, sf).collect())._2
      finally spark.conf.unset(key)
    }
    val jobs = run()
    def kind(j: Metrics.Job) = j.description.drop(j.description.lastIndexOf(" ["))
    def scopes(j: Metrics.Job) = j.description.stripSuffix(kind(j))
    // the sampling job returns its sketch to the driver, the shuffle-map
    // job writes the exchange's shuffle output: the same operators
    val sampling = jobs.filter(j => kind(j) == " [result]" && scopes(j).startsWith("Exchange"))
    assert(sampling.nonEmpty, jobs.toString)
    sampling.foreach { s =>
      assert(jobs.exists(j => kind(j) == " [shuffle map]" && scopes(j) == scopes(s)),
        jobs.toString)
    }
    // a set description wins
    spark.sparkContext.setJobDescription("daily avg")
    val named = try run() finally spark.sparkContext.setJobDescription(null)
    assert(named.nonEmpty && named.forall(_.description == "daily avg"), named.toString)
  }

  test("a failed action is captured once, with its error and no duration") {
    Metrics.reset(spark)
    intercept[Exception](spark.sql("SELECT assert_true(false)").collect())
    val caps = Metrics.captures(spark)
    assert(caps.size === 1, caps.toString)
    assert(caps.head.error.exists(_.contains("USER_RAISED_EXCEPTION")), caps.toString)
    assert(caps.head.durationMs === 0L, caps.toString)
  }

  test("report is a queryable DataFrame of the captures") {
    Metrics.reset(spark)
    spark.read.parquet(s"$sf/nation.parquet").count()
    val n = Metrics.captures(spark).size
    val rep = Metrics.report(spark)
    assert(rep.columns.toSeq === Seq("action", "duration_ms", "output_rows",
      "files_read", "bytes_read", "error"))
    // collect() itself appends a capture AFTER materializing, so the
    // snapshot row count equals the pre-report capture count
    assert(rep.collect().length === n)
  }
}
