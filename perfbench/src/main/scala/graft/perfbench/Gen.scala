package graft.perfbench

import java.time.LocalDate

/** SplitMix64: a small, fully specified generator, so the same seed
  * gives the same inputs on every JVM. */
final class Rng(seed: Long) {
  private var state = seed
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  /** Uniform in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
}

/** Every seeded input of the workloads: price pages and their 503
  * schedule (the daily job), query order (analytics), micro-batch cuts and
  * maintenance targets (the streaming sink). Each is a pure function of the run
  * seed and a stream name, so one input can change without shifting the
  * others. */
object Gen {
  /** An independent generator for one named input stream of a run. */
  def rng(seed: Long, stream: String): Rng = {
    val r = new Rng(seed)
    new Rng(r.nextLong() ^ stream.foldLeft(1125899906842597L)((h, c) => 31 * h + c))
  }

  def shuffle[T](xs: Seq[T], r: Rng): Vector[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** `k` distinct indices out of [0, n), in ascending order. */
  def sample(seed: Long, stream: String, n: Int, k: Int): Vector[Int] = {
    require(k <= n, s"cannot sample $k of $n")
    shuffle(0 until n, rng(seed, stream)).take(k).sorted
  }

  // ------------------------------------------------------------ analytics

  /** The order of timed pass `pass` over `queries`. */
  def queryOrder(seed: Long, queries: Seq[String], pass: Int): Vector[String] =
    shuffle(queries.sorted, rng(seed, s"query-order-$pass"))

  // ------------------------------------------------------------ daily job

  val zones: Vector[String] = Vector("SE1", "SE2", "SE3", "SE4")

  /** The first simulated day: the first of a seed-chosen month in
    * 2022-2024. */
  def firstDay(seed: Long): LocalDate =
    LocalDate.of(2022, 1, 1).plusMonths(rng(seed, "first-day").nextInt(36).toLong)

  /** The 24 hourly prices (EUR/kWh, five decimals) of one zone and day.
    * Northern zones are cheaper, as in the Nordic market. */
  def hourlyPrices(seed: Long, day: LocalDate, zone: String): Vector[BigDecimal] = {
    val r = rng(seed, s"price-$day-$zone")
    val level = 0.02 + 0.03 * zones.indexOf(zone) + 0.10 * r.nextDouble()
    Vector.tabulate(24) { h =>
      val peak = if (h >= 7 && h <= 20) 1.4 else 0.8
      BigDecimal(math.max(0.0, level * peak + 0.02 * (r.nextDouble() - 0.5)))
        .setScale(5, BigDecimal.RoundingMode.HALF_UP)
    }
  }

  /** The JSON page the price server returns for one zone and day. */
  def page(seed: Long, day: LocalDate, zone: String): String =
    hourlyPrices(seed, day, zone).zipWithIndex.map { case (v, h) =>
      f"""{"ts":"${day}T$h%02d:00:00","zone":"$zone","value":${v.bigDecimal.toPlainString}}"""
    }.mkString("[", ",", "]")

  /** The (day, zone) pages whose FIRST request answers 503: exactly
    * `share` of all pages, chosen by the seed, so every run retries the
    * same number of pages. */
  def failFirst(seed: Long, days: Seq[LocalDate], share: Double): Set[(LocalDate, String)] = {
    val pages = for (d <- days; z <- zones) yield (d, z)
    shuffle(pages, rng(seed, "fail-first")).take(math.round(share * pages.size).toInt).toSet
  }

  /** A double the way Spark casts it to decimal(28,10): the shortest
    * decimal form, rounded half-up to ten places. */
  def dec10(v: Double): BigDecimal =
    BigDecimal(v).setScale(10, BigDecimal.RoundingMode.HALF_UP)

  /** `sum(cast(x as decimal(28,10))) cast double / count` — the mean
    * Pipeline.runIncremental stores and the dashboard reads. */
  def decimalMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no values")
    xs.map(dec10).sum.toDouble / xs.size.toDouble
  }

  /** The expected sink value of one (day, zone). */
  def dailyMean(seed: Long, day: LocalDate, zone: String): Double =
    decimalMean(hourlyPrices(seed, day, zone).map(_.toDouble))

  /** The expected dashboard answer after the load of `asOf`: per zone,
    * the decimal mean of the daily means loaded so far in its month. */
  def monthSlice(seed: Long, first: LocalDate, asOf: LocalDate): Map[String, (Double, Long)] = {
    val from = if (first.isAfter(asOf.withDayOfMonth(1))) first else asOf.withDayOfMonth(1)
    val days = Iterator.iterate(from)(_.plusDays(1)).takeWhile(!_.isAfter(asOf)).toVector
    zones.map(z => z -> (decimalMean(days.map(d => dailyMean(seed, d, z))), days.size.toLong)).toMap
  }

  // ------------------------------------------------------- streaming sink

  /** Boundaries 0 = c(0) < … < c(batches) = n of `batches` micro-batches
    * over n event-time-ordered rows. Each interior cut is jittered by up
    * to a quarter batch, so sizes vary but stay within half and one and
    * a half of the mean. */
  def batchCuts(seed: Long, n: Int, batches: Int): Vector[Int] = {
    require(n >= 2 * batches, s"$n rows are too few for $batches batches")
    val r = rng(seed, "batch-cuts")
    val mean = n.toDouble / batches
    0 +: (1 until batches).map { i =>
      math.round(i * mean + (r.nextDouble() * 2 - 1) * mean / 4).toInt
    }.toVector :+ n
  }

  /** Seeded correction to the value of one upserted key. */
  def correction(seed: Long, key: String): Double =
    (1 + rng(seed, s"correction-$key").nextInt(9999)) / 100.0
}
