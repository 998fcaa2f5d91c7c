package graft.perfbench

import java.time.LocalDate
import org.apache.spark.sql.functions._
import graft.etl.Pipeline
import graft.sources.HttpSource

/** Serves the seeded hourly price pages on the loopback interface:
  * `GET /prices/<yyyy-mm-dd>/<zone>.json`. A page in `failFirst`
  * answers its first request with 503, every later one with the page. */
final class PriceServer(seed: Long, failFirst: Set[(LocalDate, String)]) {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val server = HttpServer.create(
    new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 16)
  server.setExecutor(pool)
  server.createContext("/prices/", (ex: HttpExchange) => {
    val parts = ex.getRequestURI.getPath.stripPrefix("/prices/").stripSuffix(".json").split("/")
    val (status, body) =
      try {
        val (day, zone) = (LocalDate.parse(parts(0)), parts(1))
        if (!Gen.zones.contains(zone)) (404, "")
        else if (failFirst((day, zone)) && seen.add(s"$day/$zone")) (503, "")
        else (200, Gen.page(seed, day, zone))
      } catch { case _: RuntimeException => (400, "") }
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1L else bytes.length.toLong)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  })
  server.start()

  def url(day: LocalDate, zone: String): String =
    s"http://127.0.0.1:${server.getAddress.getPort}/prices/$day/$zone.json"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS): Unit
  }
}

/** The reference job itself, one simulated day after another: fetch the
  * four zones' hourly pages, parse them, load the per-zone daily mean
  * into a date-partitioned sink that resumes from its watermark, then
  * read the month's per-zone averages as the dashboard does. The first
  * (cold) day and the warm-up days run untimed, as part of set-up. */
object DailyEtl {
  /** Share of pages whose first request fails. */
  val failShare = 0.1

  /** Timed days for a run of `seconds` (a day's load plus dashboard
    * read takes one to two seconds on four cores; the etl workload
    * spends the other half of its timed work in [[SinkStream]]). */
  def days(seconds: Int): Int = math.max(1, seconds / 4)

  /** Untimed days after the cold one: the first days after it read up
    * to twice the steady time while the JVM and Spark warm up. */
  val warmDays = 2

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val first = Gen.firstDay(r.seed)
    val dayList = (0 to warmDays + days(r.seconds)).map(i => first.plusDays(i.toLong))
    val server = new PriceServer(r.seed, Gen.failFirst(r.seed, dayList, failShare))
    val sink = new java.io.File(r.work, "sink").getPath
    val watermarkSecs = Vector.newBuilder[Double]
    var attempts = 0L
    var pages = 0L
    var okPages = 0L
    try dayList.zipWithIndex.foreach { case (day, i) =>
      val timed = i > warmDays
      if (r.tracer.on && timed) {
        // traced run only: the watermark read runIncremental starts with,
        // repeated outside the timed day so its growth shows on its own
        val t0 = System.nanoTime()
        r.call("etl.watermark")(Pipeline.watermark(spark, sink))
        watermarkSecs += (System.nanoTime() - t0) / 1e9
      }
      r.op("load", day.toString, timed) {
        val fetched = r.call("sources.fetch") {
          HttpSource.fetch(spark, Gen.zones.map(z => server.url(day, z)),
            maxAttempts = 3, delayMs = 20L, parallelism = r.cores).collect()
        }
        attempts += fetched.map(_.attempts.toLong).sum
        pages += fetched.length
        okPages += fetched.count(_.status == 200)
        val events = r.call("etl.fromJsonPayloads") {
          Pipeline.fromJsonPayloads(fetched.map(_.body).toSeq.toDF("body"), "body")
        }
        val loaded = r.call("etl.runIncremental") {
          Pipeline.runIncremental(spark, events, "zone", sink, java.sql.Date.valueOf(day))
        }
        fetched.forall(_.status == 200) && loaded == Gen.zones.size
      }
      val want = Gen.monthSlice(r.seed, first, day)
      r.op("dashboard", day.toString, timed) {
        val got = r.call("etl.readDeduped") {
          Pipeline.readDeduped(spark, sink)
            .filter(col("date").between(lit(java.sql.Date.valueOf(day.withDayOfMonth(1))),
              lit(java.sql.Date.valueOf(day))))
            .groupBy(col("group_key"))
            .agg((sum(col("avg_value").cast("decimal(28,10)")).cast("double") /
              count(lit(1))).as("month_avg"), count(lit(1)).as("days"))
            .collect()
        }
        got.map(g => g.getString(0) -> (g.getDouble(1), g.getLong(2))).toMap == want
      }
    } finally server.stop()

    r.check("sink") {
      val rows = Pipeline.readDeduped(spark, sink).collect()
      val got = rows.map(x => (x.getAs[java.sql.Date]("date").toLocalDate,
        x.getAs[String]("group_key")) -> (x.getAs[Double]("avg_value"), x.getAs[Long]("n"))).toMap
      val want = (for (d <- dayList; z <- Gen.zones)
        yield (d, z) -> (Gen.dailyMean(r.seed, d, z), 24L)).toMap
      rows.length == want.size && got == want
    }

    val files = Fs.dataFiles(new java.io.File(sink))
    r.layer("etl.sink_files") = files.size.toDouble
    r.layer("etl.sink_bytes") = files.map(_._2).sum.toDouble
    r.layer("sources.fetch_attempts") = attempts.toDouble
    r.layer("sources.fetch_retries") = (attempts - pages).toDouble
    r.layer("sources.fetch_ok_ratio") = okPages.toDouble / math.max(1L, attempts)
    val wm = watermarkSecs.result()
    if (wm.size >= 2) {
      val d = math.max(1, wm.size / 10) // a decile, or one call in a short run
      r.layer("etl.watermark_growth") = wm.takeRight(d).sum / wm.take(d).sum
    }

    val loads = r.timedSecs("load")
    r.detail("load_p50_s") = Stats.median(loads)
    r.detail("load_p90_s") = Stats.tail(loads, 90)._2
    r.detail("dashboard_p50_s") = Stats.median(r.timedSecs("dashboard"))
  }
}
