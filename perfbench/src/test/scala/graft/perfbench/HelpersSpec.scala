package graft.perfbench

import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentile rule: highest percentile with ten or more samples beyond it") {
    assert(Stats.supportedPercentile(1000, 95) == 95)
    assert(Stats.supportedPercentile(200, 95) == 95) // 10 beyond p95
    assert(Stats.supportedPercentile(199, 95) == 94)
    assert(Stats.supportedPercentile(100, 90) == 90)
    assert(Stats.supportedPercentile(40, 90) == 75)
    assert(Stats.supportedPercentile(46, 95) == 78)
    assert(Stats.supportedPercentile(15, 90) == 50) // never below the median
    (11 to 500).foreach { n =>
      val p = Stats.supportedPercentile(n, 99)
      assert(Stats.beyond(n, p) >= 10 || p == 50)
      assert(p == 99 || Stats.beyond(n, p + 1) < 10)
    }
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 40).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 75) == 30.0)
    assert(Stats.beyond(40, 75) == 10)
    assert(Stats.tail(xs, 90) == (75 -> 30.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.tail(Seq(1.0, 2.0, 9.0), 90) == (50 -> 2.0))
  }

  test("geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(0.5)) - 0.5) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }
}

class GenSpec extends AnyFunSuite {
  private val days = (0 until 30).map(i => LocalDate.of(2023, 5, 1).plusDays(i.toLong))

  test("the same seed gives byte-identical inputs") {
    def inputs(seed: Long) = (
      days.flatMap(d => Gen.zones.map(z => Gen.page(seed, d, z))).mkString("\n"),
      Gen.failFirst(seed, days, 0.1).toSeq.sortBy(_.toString),
      (0 until 3).map(p => Gen.queryOrder(seed, Analytics.queries, p)),
      Gen.batchCuts(seed, 100000, 40),
      Gen.sample(seed, "maintenance", 150, 18),
      Gen.firstDay(seed),
      Gen.correction(seed, "2024-01-03/click"))
    assert(inputs(7) == inputs(7))
    assert(inputs(7).productIterator.zip(inputs(8).productIterator)
      .forall { case (a, b) => a != b })
  }

  test("inputs have the promised shape") {
    val cuts = Gen.batchCuts(3, 100000, 40)
    assert(cuts.head == 0 && cuts.last == 100000 && cuts.size == 41)
    cuts.zip(cuts.tail).foreach { case (a, b) => assert(b - a >= 1250 && b - a <= 3750) }
    assert(Gen.failFirst(3, days, 0.1).size == 12) // 10% of 120 pages
    assert(Gen.queryOrder(3, Analytics.queries, 0).sorted == Analytics.queries.sorted)
    val s = Gen.sample(3, "x", 150, 18)
    assert(s.distinct.size == 18 && s.forall(i => i >= 0 && i < 150) && s == s.sorted)
    assert(Gen.firstDay(3).getDayOfMonth == 1)
    val page = Gen.page(3, days(0), "SE3")
    assert(page.startsWith("[{\"ts\":\"2023-05-01T00:00:00\",\"zone\":\"SE3\",\"value\":"))
    assert(page.split("\\},\\{").length == 24)
  }

  test("expected means use decimal(28,10) arithmetic") {
    // three values whose double sum is not exact: 0.1 + 0.2 + 0.4
    assert(0.1 + 0.2 + 0.4 != 0.7)
    assert(Gen.decimalMean(Seq(0.1, 0.2, 0.4)) == 0.7 / 3)
    // a daily mean with more than ten decimals rounds half up at the tenth
    assert(Gen.dec10(1.0 / 3) == BigDecimal("0.3333333333"))
    assert(Gen.dec10(0.12345678905) == BigDecimal("0.1234567891"))
    // 0.3333333333 + 0.6666666667: the rounded parts sum to exactly one
    assert(Gen.decimalMean(Seq(1.0 / 3, 2.0 / 3)) == 0.5)
    val hours = Gen.hourlyPrices(5, days(0), "SE1")
    assert(Gen.dailyMean(5, days(0), "SE1") == hours.sum.toDouble / 24)
    val month = Gen.monthSlice(5, days(0), days(2))
    assert(month("SE2")._2 == 3L)
    assert(month("SE2")._1 == Gen.decimalMean(days.take(3).map(d => Gen.dailyMean(5, d, "SE2"))))
  }
}

class SpansSpec extends AnyFunSuite {
  test("covered length of overlapping intervals, clipped") {
    assert(Spans.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    assert(Spans.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 8L, 25L) == 12L)
    assert(Spans.covered(Nil, 0L, 10L) == 0L)
    assert(Spans.covered(Seq((2L, 4L), (1L, 9L)), 0L, 10L) == 8L)
  }

  test("self time is the duration minus what the direct children cover") {
    val spans = Seq(
      Span(1, 0, "op", "q", 0, 100),
      Span(2, 1, "call", "build", 0, 20),
      Span(3, 1, "call", "exec", 20, 100),
      Span(4, 3, "job", "j1", 30, 60),
      Span(5, 3, "job", "j2", 50, 90), // overlaps j1
      Span(6, 4, "stage", "s1", 30, 60))
    val self = Spans.selfTimes(spans)
    assert(self(1) == 0L)
    assert(self(2) == 20L)
    assert(self(3) == 80L - 60L)
    assert(self(4) == 0L)
    assert(self(5) == 40L)
    assert(self(6) == 30L)
    assert(spans.map(s => self(s.id)).sum == 100L + 10L) // j1 and j2 overlap by 10
  }

  test("a job started after its nominal parent ended moves under the span covering it") {
    val spans = Seq(
      Span(1, 0, "call", "start", 0, 10),
      Span(2, 0, "op", "batch:0", 20, 50),
      Span(3, 2, "call", "streaming.batch", 21, 49),
      Span(4, 1, "job", "job:0", 25, 30),
      Span(5, 1, "job", "job:1", 2, 8))
    val moved = Layers.reparent(spans).map(s => s.id -> s.parent).toMap
    assert(moved(4) == 3L)
    assert(moved(5) == 1L)
  }
}

class RunSpec extends AnyFunSuite {
  test("a throw or a wrong result counts as a failed operation") {
    val r = new Run(null, new Tracer(false), 1L, 1, new java.io.File("."))
    assert(r.op("query", "ok")(true))
    assert(!r.op("query", "wrong")(false))
    assert(!r.op("query", "threw")(throw new IllegalStateException("boom")))
    assert(r.check("sink")(true))
    assert(r.ops.size == 4)
    assert(r.ops.count(!_.ok) == 2)
    assert(r.timedSecs("query").size == 3)
    assert(r.timedSecs("check").isEmpty)
    assert(r.timedStart.contains(r.ops.head.start))
  }
}

class BenchmarkJsonSpec extends AnyFunSuite {
  test("BENCHMARK.json names exactly the metrics the runs print") {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    import scala.jdk.CollectionConverters._
    def rows(key: String) = node.get(key).elements().asScala.toSeq
    assert(rows("end_to_end").map(n => (n.get("name").asText, n.get("unit").asText,
      n.get("better").asText, n.get("bound").asDouble)) == Main.endToEnd)
    assert(rows("per_layer").map(n => (n.get("name").asText, n.get("unit").asText,
      n.get("better").asText)) == Layers.metrics)
    assert(rows("workloads").map(_.get("name").asText).toSet == Main.workloads.keySet)
  }
}
