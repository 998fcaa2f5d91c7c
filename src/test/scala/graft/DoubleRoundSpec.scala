package graft

import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{DoubleRound, RoundDouble}

/** The native double ROUND ([[graft.functions.DoubleRound]]) is a
  * physical optimization: every input must round to the same bits as
  * Spark's own `Round`, interpreted and in generated code. */
class DoubleRoundSpec extends SparkSpec {

  /** Spark's built-in ROUND(x, s), evaluated by the expression itself. */
  private def builtin(x: Double, s: Int): Double =
    Round(Literal(x), Literal(s)).eval().asInstanceOf[Double]

  private def assertSame(x: Double, s: Int): Unit = {
    val want = doubleToRawLongBits(builtin(x, s))
    val kernel = doubleToRawLongBits(DoubleRound.halfUp(x, s))
    val interpreted = doubleToRawLongBits(
      RoundDouble(Literal(x), s).eval().asInstanceOf[Double])
    assert(kernel === want, s"kernel: round($x, $s)")
    assert(interpreted === want, s"interpreted: round($x, $s)")
  }

  private val twoTo52 = math.scalb(1.0, 52)

  /** Inputs where a double-arithmetic rounding would go wrong. */
  private val edges: Seq[(Double, Int)] = {
    val xs = Seq(
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 0.0, -0.0,
      -0.4, -0.5, -0.00001, 0.5, 1.5, 2.5, -2.5, 0.125, -0.125, 0.375,
      1.005, -1.005, 0.285, 2.675, 1.0000000000000002, 0.9999999999999999,
      0.49999999999999994, 4.35, 4.45, 1e-5, 5e-5, 1234.5, 1250.0,
      150.0, -150.0, 12345678.9, 1e15 + 0.5, twoTo52 - 0.5, twoTo52 - 1,
      twoTo52, twoTo52 + 1, math.scalb(1.0, 53), 1e16, 1e22, 1e23, 1e300,
      Double.MaxValue, -Double.MaxValue, Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, 123.456e-300, 0.1, 0.2, 0.3, 2.0 / 3)
    val scales = Seq(-23, -22, -5, -3, -2, -1, 0, 1, 2, 3, 4, 6, 10, 15, 17,
      21, 22, 23, 30, 400)
    for (x <- xs; s <- scales) yield (x, s)
  }

  test("native ROUND == Spark's Round on NaN, ±Inf, ±0.0, ties, 2^52+ and " +
    "negative scales, bit for bit") {
    edges.foreach { case (x, s) => assertSame(x, s) }
    // a negative input that rounds to zero is +0.0, not -0.0
    assert(doubleToRawLongBits(DoubleRound.halfUp(-0.4, 0)) === 0L)
    assert(doubleToRawLongBits(DoubleRound.halfUp(-0.0, 2)) === 0L)
    // exact decimal ties round away from zero on the shortest decimal form
    assert(DoubleRound.halfUp(1.005, 2) === 1.01)
    assert(DoubleRound.halfUp(-0.125, 2) === -0.13)
  }

  private val scale: Gen[Int] = Gen.choose(-3, 17)

  /** Random magnitudes, decimal grids, exact decimal ties, and raw bit
    * patterns (every exponent, NaN payloads included). */
  private val doubles: Gen[Double] = Gen.oneOf(
    Gen.choose(-1e6, 1e6),
    Gen.choose(-1.0, 1.0),
    for { n <- Gen.choose(-10000000L, 10000000L); k <- Gen.choose(0, 8) }
      yield n / math.pow(10, k),
    for { n <- Gen.choose(-10000000L, 10000000L); k <- Gen.choose(1, 8) }
      yield (n * 10 + 5) / math.pow(10, k),
    Gen.choose(Long.MinValue, Long.MaxValue).map(longBitsToDouble))

  private def sample(n: Int, seed: Long): Seq[(Double, Int)] = {
    val g = Gen.listOfN(n, Gen.zip(doubles, scale))
    g(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)
  }

  test("native ROUND == Spark's Round on generated doubles (property)") {
    (1 to 4).foreach { i =>
      val xs = sample(50000, i.toLong)
      assert(xs.size === 50000)
      xs.foreach { case (x, s) => assertSame(x, s) }
    }
  }

  test("generated code == Spark's Round on a DataFrame of generated doubles") {
    import spark.implicits._
    val xs = sample(20000, 42L).map(_._1) ++ edges.map(_._1).distinct
    // an RDD source: a local Seq's projection would be evaluated by the
    // optimizer, never by generated code
    val df = spark.sparkContext.parallelize(xs, 4).toDF("x")
    Seq(-3, 0, 2, 4, 17).foreach { s =>
      val q = df.select($"x", round($"x", s).as("r"))
      val p = q.queryExecution.executedPlan.toString
      // `*(n)` marks an operator inside whole-stage generated code
      assert(p.linesIterator.exists(l => l.contains("graft_round") &&
        l.trim.startsWith("*(")), p)
      q.collect().foreach { row =>
        val x = row.getDouble(0)
        assert(doubleToRawLongBits(row.getDouble(1)) ===
          doubleToRawLongBits(builtin(x, s)), s"codegen: round($x, $s)")
      }
    }
  }
}
