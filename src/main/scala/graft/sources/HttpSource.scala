package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}

/** One fetched page: the URL, final HTTP status (−1 = transport error),
  * response body (null when failed), attempts used, and the last error
  * message (null when succeeded). */
final case class HttpFetch(
    url: String, status: Int, body: String, attempts: Int, error: String)

/** Live HTTP JSON ingestion — the runnable analog of the reference's
  * REST fetch loop (`/root/reference/scripts/energy_etl.py:56-78`: GET
  * per (zone, day), 3 attempts, sleep between attempts, skip on
  * exhaustion). The reference fetches serially on one machine; here the
  * URL list is a Dataset and the fetch runs in `mapPartitions` ON THE
  * EXECUTORS — at 100 TB the page list is millions of (entity, day)
  * URLs and fetch bandwidth scales with the cluster, while per-URL
  * bounded retry + skip-on-exhaustion keeps one dead endpoint from
  * failing the job (the quarantine rows carry status + error for the
  * dead-letter audit, which the reference only prints).
  *
  * JDK-only transport (`java.net.HttpURLConnection`) — no added
  * dependencies. [[graft.etl.Pipeline.fromJsonPayloads]] parses the
  * fetched bodies, skipping malformed ones as the reference does
  * (energy_etl.py:64-69).
  */
object HttpSource {

  /** GET one URL with bounded retries; never throws. */
  private[graft] def fetchOne(
      url: String, maxAttempts: Int, delayMs: Long,
      sleep: Long => Unit): HttpFetch = {
    var attempt = 0
    var lastErr: String = null
    var lastStatus = -1
    while (attempt < maxAttempts) {
      attempt += 1
      lastStatus = -1 // per-attempt: a transport failure after an
      // earlier HTTP-status attempt must report -1, not the stale code
      try {
        val conn = new java.net.URL(url).openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setConnectTimeout(10000)
        conn.setReadTimeout(30000)
        conn.setRequestProperty("Accept", "application/json")
        try {
          val status = conn.getResponseCode
          lastStatus = status
          if (status >= 200 && status < 300) {
            val body = new String(conn.getInputStream.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8)
            return HttpFetch(url, status, body, attempt, null)
          }
          lastErr = s"HTTP $status"
        } finally conn.disconnect()
      } catch {
        case scala.util.control.NonFatal(e) =>
          lastErr = String.valueOf(e.getMessage)
      }
      if (attempt < maxAttempts) sleep(delayMs)
    }
    HttpFetch(url, lastStatus, null, attempt, lastErr)
  }

  /** Per-partition request pacer: a token bucket of capacity `burst`
    * refilled at one token per `minIntervalMs`. `acquire()` blocks until
    * a token is available, so request STARTS within a partition are at
    * least `minIntervalMs` apart once the initial burst is spent —
    * the reference's inter-request sleep
    * (`/root/reference/scripts/energy_etl.py:78`, 5 s between pages) as
    * a rate contract instead of an unconditional stall. Clock and sleep
    * are injectable for deterministic tests. Under-delivering sleeps
    * leave the bucket in debt (tokens < 0), which extends later waits —
    * the pacer self-corrects rather than drifting fast. */
  private[graft] final class RatePacer(
      minIntervalMs: Long, burst: Int,
      now: () => Long, sleep: Long => Unit) {
    private var tokens = math.max(1, burst).toDouble
    private var last = now()
    private def refill(): Unit = {
      val t = now()
      // clamp the elapsed delta at 0: with a wall clock a backwards NTP
      // step would make (t - last) negative, driving tokens into deep
      // debt and stalling the partition for the size of the step
      // (ADVICE r10 #1) — a time reversal earns no tokens but must cost
      // none either
      tokens = math.min(math.max(1, burst).toDouble,
        tokens + math.max(0L, t - last).toDouble / minIntervalMs)
      last = t
    }
    def acquire(): Unit = if (minIntervalMs > 0) {
      refill()
      if (tokens < 1.0) {
        sleep(math.ceil((1.0 - tokens) * minIntervalMs).toLong)
        refill()
      }
      tokens -= 1.0
    }
  }

  /** Fetch every URL as a distributed Dataset[HttpFetch]. The URL list
    * is cut into min(`parallelism`, |urls|) contiguous slices, one per
    * partition, straight from the driver — no shuffle, and each task
    * receives only its own slice. `parallelism` therefore bounds
    * concurrent connections cluster-wide (one in-flight request per
    * partition — the polite-crawler knob; the reference's 5 s sleep
    * is the serial version of the same restraint). `minIntervalMs > 0`
    * additionally paces request starts WITHIN each partition via a
    * token bucket (capacity `burst`), so the cluster-wide request rate
    * is bounded by `parallelism / minIntervalMs` regardless of how many
    * URLs land in a partition — retry back-off (`delayMs`) and pacing
    * compose, they don't replace each other. */
  def fetch(
      spark: SparkSession,
      urls: Seq[String],
      maxAttempts: Int = 3,
      delayMs: Long = 5000L,
      parallelism: Int = 8,
      minIntervalMs: Long = 0L,
      burst: Int = 1): Dataset[HttpFetch] = {
    import spark.implicits._
    val n = math.max(1, math.min(parallelism, urls.size))
    spark.createDataset(spark.sparkContext.parallelize(urls, n))
      .mapPartitions { it =>
        // monotonic clock (nanoTime), not currentTimeMillis: pacing
        // measures ELAPSED time, and the wall clock can step backwards
        // under NTP adjustment (ADVICE r10 #1)
        val pacer = new RatePacer(minIntervalMs, burst,
          () => System.nanoTime() / 1000000L, Thread.sleep)
        it.map { u =>
          pacer.acquire()
          fetchOne(u, maxAttempts, delayMs, Thread.sleep)
        }
      }
  }
}
