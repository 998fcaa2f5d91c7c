package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.Pipeline
import graft.sources.HttpSource

/** Drives the live HTTP JSON source end-to-end against a loopback
  * server: healthy pages, a transiently-failing endpoint that recovers
  * within the retry budget (the reference's energy_etl.py:61-78
  * contract), a permanently-dead endpoint that lands in quarantine
  * instead of failing the job, and the fetch→parse pipeline that skips
  * malformed payloads (energy_etl.py:64-69). */
class HttpSourceSpec extends SparkSpec {

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def withServer(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val flakyCalls = new AtomicInteger(0)
    server.createContext("/ok1", (ex: HttpExchange) =>
      respond(ex, 200, """{"zone":"SE1","mwh":100}"""))
    server.createContext("/ok2", (ex: HttpExchange) =>
      respond(ex, 200, """{"zone":"SE2","mwh":250}"""))
    server.createContext("/flaky", (ex: HttpExchange) =>
      if (flakyCalls.incrementAndGet() < 3) respond(ex, 500, "boom")
      else respond(ex, 200, """{"zone":"SE3","mwh":77}"""))
    server.createContext("/dead", (ex: HttpExchange) =>
      respond(ex, 503, "down"))
    server.createContext("/garbage", (ex: HttpExchange) =>
      respond(ex, 200, """not json at all"""))
    server.createContext("/day", (ex: HttpExchange) =>
      respond(ex, 200, """[{"ts":"2024-01-01T00:00:00Z","zone":"SE1","value":10.5},""" +
        """{"ts":"2024-01-01T01:00:00Z","zone":"SE1","value":11.5}]"""))
    server.createContext("/truncated", (ex: HttpExchange) =>
      respond(ex, 200, """[{"ts":"2024-01-01T00:00:00Z","zone":"SE2","val"""))
    server.createContext("/empty", (ex: HttpExchange) => respond(ex, 200, "[]"))
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("distributed fetch: retries transient failures, quarantines dead endpoints") {
    withServer { base =>
      import spark.implicits._
      val urls = Seq(s"$base/ok1", s"$base/ok2", s"$base/flaky", s"$base/dead")
      val got = HttpSource.fetch(spark, urls, maxAttempts = 3, delayMs = 0L)
        .collect().map(r => r.url -> r).toMap
      assert(got(s"$base/ok1").status === 200)
      assert(got(s"$base/ok1").attempts === 1)
      assert(got(s"$base/flaky").status === 200) // recovered on 3rd try
      assert(got(s"$base/flaky").attempts === 3)
      assert(got(s"$base/flaky").body.contains("SE3"))
      assert(got(s"$base/dead").status === 503) // exhausted, not thrown
      assert(got(s"$base/dead").body === null)
      assert(got(s"$base/dead").error === "HTTP 503")
      // the job survived a dead endpoint: 3 of 4 pages fetched
      assert(got.values.count(_.body != null) === 3)
    }
  }

  test("fetch slices the URL list into its partitions without a shuffle") {
    val urls = (1 to 5).map(i => s"http://127.0.0.1:9/p$i")
    val plan = HttpSource.fetch(spark, urls, parallelism = 2)
      .queryExecution.executedPlan
    val shuffles = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, plan.toString)
    // one partition per allowed in-flight request (building the RDD
    // fetches nothing)
    assert(plan.execute().getNumPartitions === 2)
  }

  test("RatePacer enforces the pacing floor: N acquires sleep at least " +
    "(N - burst) intervals; a burst allowance passes through unslept") {
    // deterministic fake clock: sleep() advances it (the pacer's only
    // time source), so the assertion is exact, not wall-clock-dependent
    var clock = 0L
    var slept = 0L
    val sleep: Long => Unit = ms => { slept += ms; clock += ms }
    val pacer = new HttpSource.RatePacer(
      minIntervalMs = 1000L, burst = 2, now = () => clock, sleep = sleep)
    pacer.acquire(); pacer.acquire() // burst: immediate
    assert(slept === 0L)
    (1 to 8).foreach(_ => pacer.acquire())
    // 10 acquires, burst 2 → at least 8 full intervals of enforced wait
    assert(slept >= 8000L, s"slept only $slept ms")
    // and the pacer never over-throttles a compliant clock: exactly 8
    assert(slept === 8000L, s"slept $slept ms")
    // idle refill: waiting 3 intervals buys back (up to burst) tokens
    clock += 3000L
    val before = slept
    pacer.acquire(); pacer.acquire() // refilled-to-burst: immediate
    assert(slept === before)
  }

  test("RatePacer survives a backwards clock step: a time reversal earns " +
    "no tokens but costs none — the next waits stay one-interval bounded") {
    var clock = 1000000L
    var slept = 0L
    val sleep: Long => Unit = ms => { slept += ms; clock += ms }
    val pacer = new HttpSource.RatePacer(
      minIntervalMs = 1000L, burst = 1, now = () => clock, sleep = sleep)
    pacer.acquire() // burst token
    clock -= 600000L // NTP step-back of 10 minutes between requests
    // pre-clamp this drove tokens to -600: the next acquire would sleep
    // ~601 s (ADVICE r10 #1). Clamped, it owes at most one interval.
    pacer.acquire()
    assert(slept <= 1000L, s"slept $slept ms after a backwards step")
    (1 to 5).foreach(_ => pacer.acquire())
    // steady state resumes: exactly one interval per subsequent acquire
    assert(slept <= 6000L, s"slept $slept ms")
  }

  test("fetch with minIntervalMs paces request starts (loopback floor)") {
    withServer { base =>
      val urls = Seq(s"$base/ok1", s"$base/ok2", s"$base/ok1", s"$base/ok2")
      val t0 = System.nanoTime()
      val got = HttpSource.fetch(spark, urls, maxAttempts = 1, delayMs = 0L,
        parallelism = 1, minIntervalMs = 150L).collect()
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(got.count(_.status == 200) === 4)
      // 4 requests through one partition, burst 1 → ≥ 3 full intervals
      // of enforced pacing on top of the transfer time itself
      assert(elapsedMs >= 450.0, s"elapsed only $elapsedMs ms")
    }
  }

  test("fetchOne sleeps delayMs after every failed attempt but the last") {
    withServer { base =>
      val slept = scala.collection.mutable.ArrayBuffer[Long]()
      val ok = HttpSource.fetchOne(s"$base/ok1", 3, 5000L, slept += _)
      assert((ok.status, ok.attempts) === ((200, 1)))
      assert(slept.isEmpty)
      // recovers on its 3rd attempt: two failures, two sleeps
      val flaky = HttpSource.fetchOne(s"$base/flaky", 3, 5000L, slept += _)
      assert((flaky.status, flaky.attempts) === ((200, 3)))
      assert(slept.toSeq === Seq(5000L, 5000L))
      // exhausts 3 attempts: no sleep after the final failure
      slept.clear()
      val dead = HttpSource.fetchOne(s"$base/dead", 3, 5000L, slept += _)
      assert((dead.status, dead.attempts, dead.body) === ((503, 3, null)))
      assert(dead.error === "HTTP 503")
      assert(slept.toSeq === Seq(5000L, 5000L))
    }
  }

  test("fetch over only dead URLs returns quarantine rows without throwing") {
    withServer { base =>
      val urls = Seq(s"$base/dead", s"$base/missing")
      val got = HttpSource.fetch(spark, urls, maxAttempts = 2, delayMs = 0L)
        .collect().sortBy(_.url)
      assert(got.map(_.url).toSeq === urls.sorted)
      assert(got.forall(r => r.body == null && r.attempts == 2 && r.error != null))
      assert(got.map(_.status).toSeq === Seq(503, 404))
    }
  }

  test("fetch -> fromJsonPayloads skips a malformed body and an empty " +
    "array, and parses the good bodies in the same frame") {
    withServer { base =>
      import spark.implicits._
      val pages = HttpSource.fetch(spark,
          Seq(s"$base/day", s"$base/garbage", s"$base/truncated", s"$base/empty"),
          maxAttempts = 1, delayMs = 0L)
        .filter(col("status") === 200).toDF()
      assert(pages.count() === 4)
      val rows = Pipeline.fromJsonPayloads(pages, "body")
        .select($"zone", $"value").as[(String, Double)].collect().sorted
      assert(rows.toSeq === Seq(("SE1", 10.5), ("SE1", 11.5)))
    }
  }
}
